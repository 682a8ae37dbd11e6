package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit, SupportsPushDownRequiredColumns, SupportsPushDownTopN, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThanOrEqual, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the reference's paginated commit source
  * (SURVEY §2.1 O1-O3 "full fidelity" mapping of `git_etl.ts:53-74`):
  *
  *  - one `InputPartition` per 100-row PAGE (the reference's `per_page:
  *    100` chunking, `git_etl.ts:64`) — pages read in parallel instead of
  *    the reference's sequential pagination;
  *  - `SupportsPushDownFilters` accepts `ts >= bound` and applies it AT THE
  *    SOURCE, the exact analog of pushing `since` into the API request
  *    (`git_etl.ts:63`) — the scan then emits only matching rows, and the
  *    pushed filter is visible in `.explain` (`PushedFilters`);
  *  - `SupportsPushDownRequiredColumns` prunes the emitted columns;
  *  - `SupportsPushDownAggregates` answers `GROUP BY message` (or global)
  *    aggregations of COUNT(*) / MIN(ts) / MAX(ts) ENTIRELY at the source
  *    (complete pushdown): rows are an arithmetic sequence, so each
  *    group's count and ts extremes have closed forms over the
  *    `since`-filtered index range — the analog of a remote database
  *    answering the aggregate server-side. The scan then emits ≤ 7 rows
  *    instead of the corpus, and the plan carries NO aggregate operator
  *    at all (asserted in PlanShapeSpec);
  *  - `SupportsPushDownLimit`/`SupportsPushDownTopN` serve `LIMIT k` and
  *    `ORDER BY ts [DESC] LIMIT k` as a k-row index slice in the pushed
  *    order (rows are ts-sorted by construction), `isPartiallyPushed =
  *    false` — Spark drops its Sort/Limit and the scan reads k rows,
  *    not the corpus;
  *  - `SupportsRuntimeFiltering` on `sha`: when the source is the probe
  *    side of a join whose build side carries a selective predicate,
  *    Spark's dynamic partition pruning hands the build side's join-key
  *    values to the scan AT EXECUTION TIME (after the broadcast
  *    materializes), and the scan re-plans to only the PAGES containing a
  *    candidate sha — the DSv2 analog of partition-pruned parquet DPP
  *    (`q_sink_dpp`), and the shape that turns "scan the 100 TB fact
  *    source" into "scan the handful of pages the dimension selects".
  *    Pruning is conservative (page granularity; the join re-checks every
  *    row), so it can only drop pages that provably produce no output.
  *
  * Rows are DETERMINISTIC synthetic commits (this environment has no
  * network): row i has ts = 2024-01-01 + i*137s, sha = "c"+zero-padded i,
  * email = "u<i%50>@x", message = "m<i%7>" — formulas simple enough for
  * the DuckDB oracle to reproduce from a `range()` table.
  *
  * Usage: `spark.read.format("graft.sources.CommitSource")
  *   .option("rows", n).load()`.
  */
class CommitSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CommitSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val p = properties.asScala
    new CommitTable(p.getOrElse("rows", "1000").toLong,
      p.getOrElse("batchRows", CommitSource.PageSize.toString).toLong)
  }
}

object CommitSource {
  val PageSize = 100 // git_etl.ts:64
  val BaseMicros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z")
    .getEpochSecond * 1000000L
  val StepMicros: Long = 137L * 1000000L

  val schema: StructType = StructType(Seq(
    StructField("sha", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("email", StringType, nullable = false),
    StructField("message", StringType, nullable = false)))

  def tsMicrosOf(i: Long): Long = BaseMicros + i * StepMicros
  def shaOf(i: Long): String = "c" + "%08d".format(i)
  def emailOf(i: Long): String = s"u${i % 50}@x"
  def messageOf(i: Long): String = s"m${i % 7}"

  /** First row index at-or-after an inclusive `since` bound (rows are
    * strictly ts-ascending by construction). Shared by the batch scan,
    * the closed-form aggregate scan, and the micro-batch stream. */
  def firstRowFor(sinceMicros: Long): Long =
    if (sinceMicros == Long.MinValue) 0L
    else {
      val delta = sinceMicros - BaseMicros
      if (delta <= 0) 0L else (delta + StepMicros - 1) / StepMicros
    }

  /** Row-emitting reader factory over [[CommitPage]] /
    * [[CommitOrderedSlice]] partitions — shared by the batch scan and the
    * micro-batch stream (identical row contract in both modes). */
  def readerFactory(fields: Array[String], since: Long): PartitionReaderFactory =
    (partition: InputPartition) => {
      val (start, end, desc) = partition match {
        case CommitPage(s, e) => (s, e, false)
        case CommitOrderedSlice(s, e, d) => (s, e, d)
      }
      new PartitionReader[InternalRow] {
        private var i = if (desc) end else start - 1
        override def next(): Boolean = {
          if (desc) { i -= 1; i >= start }
          else {
            i += 1
            // per-row residual of the pushed bound (page granularity above)
            while (i < end && tsMicrosOf(i) < since) i += 1
            i < end
          }
        }
        override def get(): InternalRow = {
          val vals = fields.map {
            case "sha"     => UTF8String.fromString(shaOf(i))
            case "ts"      => java.lang.Long.valueOf(tsMicrosOf(i))
            case "email"   => UTF8String.fromString(emailOf(i))
            case "message" => UTF8String.fromString(messageOf(i))
          }
          new GenericInternalRow(vals.asInstanceOf[Array[Any]])
        }
        override def close(): Unit = ()
      }
    }
}

class CommitTable(totalRows: Long, batchRows: Long = CommitSource.PageSize)
    extends Table with SupportsRead {
  override def name(): String = s"graft_commits($totalRows)"
  override def schema(): StructType = CommitSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new CommitScanBuilder(totalRows, batchRows)
}

class CommitScanBuilder(totalRows: Long, batchRows: Long = CommitSource.PageSize)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  private var sinceMicros: Long = Long.MinValue
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = CommitSource.schema
  // (groupByMessage, agg kinds in declaration order: "count"|"min"|"max")
  private var aggPushed: Option[(Boolean, Seq[String])] = None

  private def isCol(e: org.apache.spark.sql.connector.expressions.Expression,
                    n: String): Boolean = e match {
    case r: NamedReference => r.fieldNames.sameElements(Array(n))
    case _ => false
  }

  private def parseAgg(agg: Aggregation): Option[(Boolean, Seq[String])] = {
    val grouped = agg.groupByExpressions.toSeq match {
      case Seq() => Some(false)
      case Seq(g) if isCol(g, "message") => Some(true)
      case _ => None
    }
    val kinds = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some("count")
      case m: Min if isCol(m.column, "ts") => Some("min")
      case m: Max if isCol(m.column, "ts") => Some("max")
      case _ => None
    }
    for {
      g <- grouped
      if kinds.nonEmpty && kinds.forall(_.isDefined)
    } yield (g, kinds.flatten)
  }

  // complete pushdown: the emitted rows ARE the final aggregate (single
  // InputPartition), so Spark plans no aggregate operator on top
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    parseAgg(agg).isDefined
  override def pushAggregation(agg: Aggregation): Boolean = {
    aggPushed = parseAgg(agg)
    aggPushed.isDefined
  }

  // LIMIT / ORDER BY ts LIMIT k pushdown: rows are strictly ts-ascending,
  // so the first (or last) k indexes of the filtered range ARE the answer
  // — the scan serves them in the pushed order from a single partition,
  // and isPartiallyPushed=false lets Spark drop its Sort/Limit entirely.
  // Declined once an aggregation is pushed (the limit then applies to the
  // aggregate output, which Spark handles itself).
  private var limitPushed: Option[(Int, Boolean)] = None // (k, descending)
  override def isPartiallyPushed(): Boolean = false
  override def pushLimit(n: Int): Boolean =
    if (aggPushed.isDefined) false
    else { limitPushed = Some((n, false)); true }
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean =
    orders.toSeq match {
      case Seq(o) if isCol(o.expression, "ts") && aggPushed.isEmpty =>
        limitPushed = Some((n, o.direction == SortDirection.DESCENDING))
        true
      case _ => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (accepted, rejected) = filters.partition {
      case GreaterThanOrEqual("ts", _: java.sql.Timestamp) => true
      case _ => false
    }
    accepted.foreach { case GreaterThanOrEqual(_, t: java.sql.Timestamp) =>
      // like the reference's `since`: an inclusive lower bound on ts.
      // Exact micros (floor(millis)*1e3 + sub-milli micros): getTime alone
      // truncates to milliseconds, which would under-bound a sub-milli
      // filter while claiming it fully handled — extra rows with no
      // residual filter to catch them.
      sinceMicros = math.max(sinceMicros,
        math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L)
    }
    pushed = accepted
    rejected // Spark re-applies anything the source didn't take
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    // pruning describes ROW columns; once an aggregation is pushed the
    // scan's schema is the aggregate shape instead — ignore late prunes
    if (aggPushed.isEmpty) required = requiredSchema
  override def build(): Scan = aggPushed match {
    case Some((grouped, kinds)) =>
      new CommitAggScan(totalRows, sinceMicros, grouped, kinds)
    case None =>
      new CommitScan(totalRows, sinceMicros, required, limitPushed, batchRows)
  }
}

/** Complete-pushdown aggregate scan: one partition whose rows are the
  * final per-group aggregates, computed in closed form (no row is ever
  * materialized). Schema is positional per the DSv2 contract: group-by
  * columns first, then one column per aggregate function. */
class CommitAggScan(totalRows: Long, sinceMicros: Long,
                    grouped: Boolean, kinds: Seq[String])
    extends Scan with Batch with SupportsReportStatistics {
  import CommitSource._

  /** The emitted rows ARE the final aggregate: <= 7 grouped rows (one per
    * message class) or exactly 1 global row. */
  override def estimateStatistics(): Statistics = new Statistics {
    private val rows = if (grouped) 7L else 1L
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows * 64L)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(rows)
  }

  override def readSchema(): StructType = StructType(
    (if (grouped) Seq(StructField("message", StringType, nullable = false))
     else Nil) ++
      kinds.zipWithIndex.map {
        case ("count", i) => StructField(s"agg_$i", LongType, nullable = false)
        case (_, i)       => StructField(s"agg_$i", TimestampType, nullable = true)
      })
  override def toBatch: Batch = this
  override def description(): String = {
    val g = if (grouped) "group=[message]" else "group=[]"
    s"graft_commits rows=$totalRows PushedAggregation: $g aggs=${kinds.mkString(",")}"
  }

  private case object AggPartition extends InputPartition

  override def planInputPartitions(): Array[InputPartition] = Array(AggPartition)

  override def createReaderFactory(): PartitionReaderFactory = {
    val (tot, since, grp, ks) = (totalRows, sinceMicros, grouped, kinds)
    (_: InputPartition) => new PartitionReader[InternalRow] {
      // index range [firstRow, tot) after the pushed `since` bound —
      // identical arithmetic to CommitScan.planInputPartitions
      private val firstRow = CommitSource.firstRowFor(since)
      // (groupKey or null, count, minIdx, maxIdx) per non-empty group
      private val groups: Seq[(String, Long, Long, Long)] =
        if (firstRow >= tot) {
          if (grp) Nil else Seq((null, 0L, -1L, -1L)) // global agg of empty input
        } else if (!grp) {
          Seq((null, tot - firstRow, firstRow, tot - 1))
        } else {
          (0L until 7L).flatMap { j =>
            // first index >= firstRow with i % 7 == j, last index < tot
            val first = firstRow + (((j - firstRow) % 7) + 7) % 7
            if (first >= tot) None
            else {
              val last = (tot - 1) - ((((tot - 1) - j) % 7) + 7) % 7
              Some((messageOf(j), (last - first) / 7 + 1, first, last))
            }
          }
        }
      private var idx = -1
      override def next(): Boolean = { idx += 1; idx < groups.length }
      override def get(): InternalRow = {
        val (key, n, minI, maxI) = groups(idx)
        val aggVals: Seq[Any] = ks.map {
          case "count" => java.lang.Long.valueOf(n)
          case "min" =>
            if (minI < 0) null else java.lang.Long.valueOf(tsMicrosOf(minI))
          case "max" =>
            if (maxI < 0) null else java.lang.Long.valueOf(tsMicrosOf(maxI))
        }
        val vals =
          (if (grp) Seq(UTF8String.fromString(key)) else Nil) ++ aggVals
        new GenericInternalRow(vals.toArray[Any])
      }
      override def close(): Unit = ()
    }
  }
}

case class CommitPage(start: Long, end: Long) extends InputPartition

/** `ordered`: when a limit/top-N is pushed, the single emitted partition
  * walks indexes in the pushed direction (desc = newest first) — with
  * `isPartiallyPushed=false` Spark drops its own Sort/Limit, so the
  * scan's row order IS the result order. */
case class CommitOrderedSlice(start: Long, end: Long, desc: Boolean)
  extends InputPartition

class CommitScan(totalRows: Long, sinceMicros: Long, required: StructType,
                 limitPushed: Option[(Int, Boolean)] = None,
                 batchRows: Long = CommitSource.PageSize)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new CommitMicroBatchStream(totalRows, sinceMicros, required, batchRows)

  /** Pushdown-aware statistics (SupportsReportStatistics): the row count
    * reflects the pushed `since` bound and any pushed limit, so Catalyst
    * sees the SOURCE-FILTERED cardinality — a `since`-narrowed or
    * LIMIT-sliced commit scan becomes broadcast-eligible and DPP's
    * benefit estimate uses real numbers instead of the
    * unknown-size default. ~64 bytes/row (4 narrow columns). */
  override def estimateStatistics(): Statistics = {
    val afterSince = math.max(0L, totalRows - firstRow)
    val rows = limitPushed match {
      case Some((k, _)) => math.min(k.toLong, afterSince)
      case None => afterSince
    }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(math.max(1L, rows * 64L))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
  override def description(): String =
    s"graft_commits rows=$totalRows since=" +
      (if (sinceMicros == Long.MinValue) "none" else sinceMicros.toString) +
      limitPushed.map { case (k, desc) =>
        s" PushedTopN: limit=$k order=${if (desc) "ts DESC" else "ts ASC"}"
      }.getOrElse("")

  // --- runtime (DPP) filtering on sha ------------------------------------
  // Candidate row indexes handed over at execution time, decoded from the
  // build side's sha values. None = no runtime filter arrived (scan all
  // pages). A sha that doesn't parse names a row that cannot exist, so
  // dropping it is exact — and the join re-checks every emitted row
  // anyway (runtime pruning must never over-prune; page granularity plus
  // decode-or-drop satisfies that by construction).
  @volatile private var runtimeIdx: Option[Set[Long]] = None

  override def filterAttributes(): Array[NamedReference] =
    Array(Expressions.column("sha"))

  // shaOf uses "c%08d", which emits 9+ chars once row indexes pass 1e8 —
  // so accept any 'c' + ASCII-digit suffix of length >= 8 (Char.isDigit /
  // Long.parseLong would also admit non-ASCII Unicode digits; an explicit
  // '0'..'9' check keeps decode = exactly the shaOf image).
  private def shaToIdx(v: Any): Option[Long] = v match {
    case s: String if s.length >= 9 && s.charAt(0) == 'c' &&
      s.drop(1).forall(c => c >= '0' && c <= '9') =>
      try Some(java.lang.Long.parseLong(s.substring(1)))
      catch { case _: NumberFormatException => None } // > Long.MaxValue digits
    case _ => None
  }

  override def filter(filters: Array[Filter]): Unit = {
    val sets = filters.collect {
      case In("sha", vs)    => vs.toSeq.flatMap(shaToIdx).toSet
      case EqualTo("sha", v) => shaToIdx(v).toSet
    }
    if (sets.nonEmpty) runtimeIdx = Some(sets.reduce(_ intersect _))
  }

  // first index at-or-after the pushed `since` bound (rows are ts-ordered)
  private def firstRow: Long = CommitSource.firstRowFor(sinceMicros)

  override def planInputPartitions(): Array[InputPartition] = {
    // source-side pushdown: the `since` bound maps to a starting row
    // index and earlier PAGES are never planned at all
    limitPushed match {
      case Some((k, desc)) =>
        // k-row slice of the filtered range, served in pushed order from
        // ONE partition (k is a user-facing LIMIT — always small)
        val lo = firstRow
        val (s, e) =
          if (desc) (math.max(lo, totalRows - k), totalRows)
          else (lo, math.min(totalRows, lo + k))
        Array(CommitOrderedSlice(s, math.max(s, e), desc))
      case None =>
        val firstPage = firstRow / CommitSource.PageSize
        val lastPage = (totalRows + CommitSource.PageSize - 1) / CommitSource.PageSize
        val pages: Seq[Long] = runtimeIdx match {
          // runtime filter: only pages holding a candidate index survive
          case Some(idx) =>
            idx.filter(i => i >= firstRow && i < totalRows)
              .map(_ / CommitSource.PageSize).toSeq.distinct.sorted
          case None => firstPage until lastPage
        }
        pages.map { p =>
          CommitPage(p * CommitSource.PageSize,
            math.min((p + 1) * CommitSource.PageSize, totalRows)): InputPartition
        }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CommitSource.readerFactory(required.fieldNames, sinceMicros)
}

/** Streaming offset = next unread row index. The paginated source's
  * natural incremental cursor (the reference resumes from its stored
  * watermark, `git_etl.ts:258-266`; here the checkpoint stores the row
  * index and resume is exact, not +1-second approximate). */
case class CommitOffset(idx: Long) extends Offset {
  override def json(): String = idx.toString
}

/** Micro-batch stream over the commit source: offsets are row indexes,
  * each tick admits at most `batchRows` rows (`ReadLimit.maxRows` — the
  * per-trigger page-pull budget of a continuous ingest), and
  * `Trigger.AvailableNow` drains the table in bounded ticks then stops
  * (`SupportsTriggerAvailableNow` pins the target so late-arriving rows
  * can't extend the run). A `since` bound, when the builder received one,
  * becomes the INITIAL offset — history before the watermark is never
  * read at all (Spark keeps stream-side filters as plan operators, so
  * correctness never depends on this). Partitions within a tick are
  * page-granular, so a 1000-executor cluster parallelizes each tick
  * exactly like a batch scan. */
class CommitMicroBatchStream(totalRows: Long, sinceMicros: Long,
                             required: StructType, batchRows: Long)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  import CommitSource.PageSize

  // target pinned at prepareForTriggerAvailableNow (AvailableNow contract:
  // the run drains to the table size observed at start, then terminates)
  @volatile private var target: Long = totalRows

  override def prepareForTriggerAvailableNow(): Unit = { target = totalRows }

  override def initialOffset(): Offset =
    CommitOffset(CommitSource.firstRowFor(sinceMicros))
  override def deserializeOffset(json: String): Offset =
    CommitOffset(json.toLong)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(batchRows)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[CommitOffset].idx
    val cap = limit match {
      case r: ReadMaxRows => math.max(1L, r.maxRows)
      case _ => math.max(1L, batchRows)
    }
    CommitOffset(math.min(target, s + cap))
  }
  override def reportLatestOffset(): Offset = CommitOffset(target)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[CommitOffset].idx
    val e = end.asInstanceOf[CommitOffset].idx
    // page-granular splits of this tick's [s, e) index range
    (s until e by PageSize).map { p =>
      CommitPage(p, math.min(p + PageSize, e)): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    CommitSource.readerFactory(required.fieldNames, sinceMicros)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
