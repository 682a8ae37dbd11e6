package graft.tools

/** Dump `.explain("formatted")` for named registered queries (the
  * plans/r15 evidence files — not part of the driver contract).
  * Usage: runjvm.sh graft.tools.PlanDump <sfDir> <outDir> <name>[,<name>...]
  *
  * Runs under the SAME session confs as Bench so the dumped plan is the
  * plan the bench measures. NOTE: entries whose returned frame is a
  * read-back of an internally produced artifact (tick entries, staged
  * sinks) show the serve-side plan; their build-side plans are internal
  * actions and are documented in OPTIMIZATION_r15.md instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val outDir = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = graft.Session.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, Map.empty)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"$n.txt"), txt)
      println(s"[plandump] wrote $outDir/$n.txt")
    }
    spark.stop()
  }
}
