package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfBenchShim, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's own calls into each layer, plus the Spark
  * events beneath them: SQL executions (with their Catalyst phases), jobs
  * and stages with summed task metrics. Everything is kept in memory as
  * JSON lines and written out when the run ends.
  *
  * Harness spans carry explicit parents. Listener records are linked by
  * ids: a job names its job group (one per tick) and SQL execution, a
  * stage its job, an SQL execution the query execution whose Catalyst
  * phases it ran. A stage also names the plan operators its tasks ran
  * (those whose SQL metrics they updated), so its work can be given to a
  * layer; an SQL execution names the path it writes, if any. */
final class Tracer {
  private val t0Ms = System.currentTimeMillis()
  private val t0Ns = System.nanoTime()
  /** Epoch microseconds on the same clock as the listener's millisecond times. */
  def nowUs: Long = t0Ms * 1000 + (System.nanoTime() - t0Ns) / 1000

  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val nextSpan = new AtomicInteger(0)
  private var stack = List.empty[Int]
  @volatile private var attachedTo: Option[SparkSession] = None

  def active: Boolean = attachedTo.isDefined

  /** Run `body` inside a span when tracing is attached; `attrs` is called
    * after the body returns. */
  def span[T](name: String, attrs: => Seq[(String, Any)] = Nil)(body: => T): T =
    if (!active) body
    else {
      val id = nextSpan.incrementAndGet()
      val parent = stack.headOption.getOrElse(0)
      val start = nowUs
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        val end = nowUs
        lines.add(Json("t" -> "span", "id" -> id, "parent" -> parent, "name" -> name,
          "start_us" -> start, "end_us" -> end, "attrs" -> ListMap(attrs: _*)))
      }
    }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(listener)
    s.listenerManager.register(qeListener)
    attachedTo = Some(s)
  }

  /** Wait until every event of the work so far has been delivered, then
    * stop listening, so an untraced tick pays no listener cost. */
  def detach(): Unit = attachedTo.foreach { s =>
    PerfBenchShim.drain(s.sparkContext)
    s.sparkContext.removeSparkListener(listener)
    s.listenerManager.unregister(qeListener)
    attachedTo = None
  }

  def dump(): Seq[String] = lines.asScala.toSeq

  private final class StageAgg {
    var tasks, failed = 0L
    var runMs, cpuNs, gcMs, inBytes, inRows, outBytes, outRows = 0L
    var shWrite, shRead, spill, fetchWaitMs = 0L
    /** Task run time by the scans a task ran ("" for none). */
    val runMsByScan = mutable.Map[String, Long]().withDefaultValue(0L)
  }

  private val jobStarts = new ConcurrentHashMap[Int, (Long, String, Long, Seq[Int])]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageAggs = new ConcurrentHashMap[(Int, Int), StageAgg]()
  private val sqlStarts = new ConcurrentHashMap[Long, (Long, String, Option[String])]()
  /** SQL metric accumulator id -> (plan operator, metric name, metric type). */
  private val metricNode = new ConcurrentHashMap[Long, (String, String, String)]()

  private def learnPlan(p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => metricNode.put(m.accumulatorId, (p.nodeName.trim, m.name, m.metricType)))
    p.children.foreach(learnPlan)
  }

  private def operator(id: Long): Option[(String, String, String)] = Option(metricNode.get(id))

  /** Timing SQL metrics a stage's tasks added to, in ms, keyed "operator/metric". */
  private def timingsMs(i: StageInfo): Map[String, Long] =
    i.accumulables.toSeq.flatMap { case (id, acc) =>
      operator(id).collect {
        case (node, name, "timing") => s"$node/$name" -> acc.value.fold(0L)(_.toString.toLong)
        case (node, name, "nsTiming") => s"$node/$name" -> acc.value.fold(0L)(_.toString.toLong / 1000000)
      }
    }.groupMapReduce(_._1)(_._2)(_ + _)

  // the first path after the last mention of the write command: its
  // arguments, in both the simple and the formatted plan description
  private val WritePath = """(?s).*InsertIntoHadoopFsRelationCommand.*?(file:[^\s,\]]+)""".r

  /** The path a write command's plan writes, from its description. */
  private def writePath(plan: String): Option[String] =
    WritePath.findPrefixMatchOf(plan).map(_.group(1))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val sql = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(stageJob.put(_, e.jobId))
      jobStarts.put(e.jobId, (e.time, group, sql, e.stageIds))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, group, sql, stages) =>
        lines.add(Json("t" -> "job", "id" -> e.jobId, "group" -> group, "sql" -> sql,
          "start_ms" -> start, "end_ms" -> e.time, "stages" -> stages,
          "ok" -> (e.jobResult == JobSucceeded)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAggs.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
      a.synchronized {
        a.tasks += 1
        if (e.reason != Success) a.failed += 1
        val scans = e.taskInfo.accumulables.flatMap(acc => operator(acc.id)).map(_._1)
          .filter(_.startsWith("Scan ")).distinct.sorted.mkString("+")
        a.runMsByScan(scans) += Option(e.taskMetrics).fold(0L)(_.executorRunTime)
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRows += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRows += m.outputMetrics.recordsWritten
          a.shWrite += m.shuffleWriteMetrics.bytesWritten
          a.shRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(stageAggs.remove((i.stageId, i.attemptNumber()))).getOrElse(new StageAgg)
      val nodes = i.accumulables.keys.flatMap(operator).map(_._1).toSeq.distinct.sorted
      lines.add(Json("t" -> "stage", "id" -> i.stageId, "attempt" -> i.attemptNumber(),
        "job" -> Option(stageJob.get(i.stageId)).map(_.intValue).getOrElse(-1),
        "start_ms" -> i.submissionTime.getOrElse(-1L), "end_ms" -> i.completionTime.getOrElse(-1L),
        "tasks" -> a.tasks, "failed_tasks" -> a.failed, "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs,
        "gc_ms" -> a.gcMs, "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
        "out_bytes" -> a.outBytes, "out_rows" -> a.outRows, "shuffle_write" -> a.shWrite,
        "shuffle_read" -> a.shRead, "spill" -> a.spill, "fetch_wait_ms" -> a.fetchWaitMs,
        "nodes" -> nodes, "run_ms_by_scan" -> a.runMsByScan.toMap, "timings_ms" -> timingsMs(i)))
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        learnPlan(s.sparkPlanInfo)
        sqlStarts.put(s.executionId, (s.time, s.jobGroupId.getOrElse(""), writePath(s.physicalPlanDescription)))
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        learnPlan(u.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd =>
        Option(sqlStarts.remove(s.executionId)).foreach { case (start, group, path) =>
          lines.add(Json("t" -> "sql", "id" -> s.executionId, "group" -> group,
            "start_ms" -> start, "end_ms" -> s.time, "write" -> path.isDefined, "write_path" -> path,
            "qe" -> PerfBenchShim.queryId(s)))
        }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
        name -> Seq(p.startTimeMs, p.endTimeMs)
      }
      lines.add(Json("t" -> "qe", "id" -> qe.id, "func" -> func, "phases" -> ListMap(phases: _*)))
    }
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = record(func, qe)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = record(func, qe)
  }
}

/** JSON lines of the harness's records, written with Jackson. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  /** One JSON object with `fields` in order; `None` writes as null. */
  def apply(fields: (String, Any)*): String = mapper.writeValueAsString(ListMap(fields: _*))
}
