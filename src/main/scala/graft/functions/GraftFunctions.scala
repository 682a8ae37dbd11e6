package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The graft native expressions and the one call that installs them, with
  * the [[FuseWordCount]] optimizer rule, on a session.
  *
  * [[register]] runs in two places only: once on every session
  * `graft.Session.build` makes, and at the start of every
  * `graft.SparkEntry.queries` entry, which covers a session the driver
  * built itself. Operator code assumes its session is registered and
  * never calls it. A streaming `foreachBatch` batch runs on a clone of
  * the query's session, and a clone copies both the function registry
  * and the extra optimizer rules.
  */
object GraftFunctions {
  type Builder = Seq[Expression] => Expression

  /** Wrap a builder with an arity check: SQL calling a graft function
    * with the wrong argument count gets the standard WRONG_NUM_ARGS
    * analysis error (naming the function and both counts) instead of the
    * builder's raw IndexOutOfBoundsException — the same contract the
    * builtin registry enforces. */
  private def checked(name: String, arity: Int)(b: Builder): Builder =
    (args: Seq[Expression]) => {
      if (args.length != arity)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> arity.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      b(args)
    }

  private val descriptors: Seq[(String, ExpressionInfo, Builder)] = Seq(
    ("graft_charhash", 1,
      new ExpressionInfo(classOf[CharPolyHash].getName, "graft_charhash"),
      (args: Seq[Expression]) => CharPolyHash(args.head)),
    ("graft_dot", 2,
      new ExpressionInfo(classOf[LongDot].getName, "graft_dot"),
      (args: Seq[Expression]) => LongDot(args(0), args(1))),
    ("graft_wavg", 2,
      new ExpressionInfo(classOf[ExactWeightedAvg].getName, "graft_wavg"),
      (args: Seq[Expression]) => ExactWeightedAvg(args(0), args(1))),
    ("graft_shingles", 1,
      new ExpressionInfo(classOf[ShingleHashes].getName, "graft_shingles"),
      (args: Seq[Expression]) => ShingleHashes(args.head)),
    ("graft_simhash", 1,
      new ExpressionInfo(classOf[SimHash32].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash32(args.head)),
    ("graft_wordhashes", 1,
      new ExpressionInfo(classOf[WordHashes].getName, "graft_wordhashes"),
      (args: Seq[Expression]) => WordHashes(args.head)),
    ("graft_planedots", 1,
      new ExpressionInfo(classOf[PlaneDots].getName, "graft_planedots"),
      (args: Seq[Expression]) => PlaneDots(args.head)),
    ("graft_chunks", 2,
      new ExpressionInfo(classOf[ChunkHashes].getName, "graft_chunks"),
      (args: Seq[Expression]) => ChunkHashes(args(0), args(1))),
    ("graft_scaledemb", 1,
      new ExpressionInfo(classOf[ScaledEmb].getName, "graft_scaledemb"),
      (args: Seq[Expression]) => ScaledEmb(args.head)),
    ("graft_bytesimhash", 1,
      new ExpressionInfo(classOf[ByteSimHash32].getName, "graft_bytesimhash"),
      (args: Seq[Expression]) => ByteSimHash32(args.head)),
    ("graft_gramhashes", 2,
      new ExpressionInfo(classOf[GramHashes].getName, "graft_gramhashes"),
      (args: Seq[Expression]) => GramHashes(args(0), args(1))),
    ("graft_winnowfps", 2,
      new ExpressionInfo(classOf[WinnowFps].getName, "graft_winnowfps"),
      (args: Seq[Expression]) => WinnowFps(args(0), args(1))),
    ("graft_nearest_cells", 3,
      new ExpressionInfo(classOf[NearestCells].getName, "graft_nearest_cells"),
      (args: Seq[Expression]) => NearestCells(args(0), args(1), args(2))))
    .map { case (name, arity, info, builder) =>
      (name, info, checked(name, arity)(builder))
    }

  /** Idempotent registration on an existing session. Synchronized on the
    * session: callers on different threads that share one session (a
    * driver running entries concurrently) would otherwise race the
    * extraOptimizations check-then-set and append FuseWordCount twice —
    * harmless only while the rule stays idempotent, so make the check
    * atomic instead of relying on that. */
  def register(spark: SparkSession): Unit = spark.synchronized {
    descriptors.foreach { case (name, info, builder) =>
      spark.sessionState.functionRegistry
        .registerFunction(FunctionIdentifier(name), info, builder)
    }
    if (!spark.experimental.extraOptimizations.contains(FuseWordCount))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ FuseWordCount
  }
}
