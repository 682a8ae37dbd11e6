package graft.tools
/** Dev smoke tool: runs SparkEntry.entry (the driver's t1 check) and shows
  * the result; with arg "explain <name> <sfDir>", prints a query's plan. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build(8, Map.empty)
    spark.sparkContext.setLogLevel("ERROR")
    args.toList match {
      case "explain" :: name :: dir :: Nil =>
        graft.SparkEntry.queries(name)(spark, dir).explain("formatted")
      case _ =>
        val df = graft.SparkEntry.entry(spark)
        println("ENTRY rows=" + df.count())
        df.show(20, false)
    }
    spark.stop()
  }
}
