package graft.tools
/** Dev smoke tool: runs SparkEntry.entry (the driver's t1 check) and shows
  * the result. Plans are dumped by [[PlanDump]], under Bench's session. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.build(8, Map.empty)
    spark.sparkContext.setLogLevel("ERROR")
    val df = graft.SparkEntry.entry(spark)
    println("ENTRY rows=" + df.count())
    df.show(20, false)
    spark.stop()
  }
}
