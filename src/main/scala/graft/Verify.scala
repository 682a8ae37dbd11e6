package graft
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only;
    // the driver always runs the full set)
    val selected = SparkEntry.select(args.lift(2))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Session.build(cpus, Map.empty)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        // Hard gate: a DecimalType output column can only hash-mismatch
        // the DOUBLE-typed oracle (see util.SchemaGuard) — fail loudly
        // here rather than let the round record a silent red row.
        graft.util.SchemaGuard.assertNoDecimal(name, df.schema)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // block-manager hygiene between queries (see RunCache scaladoc):
      // keeps query N's runtime independent of how many ran before it
      graft.util.RunCache.sweep(spark)
    }
    // oracles of the selected entries only, sorted by name: a filtered
    // run's check then reports no entry it did not run as missing
    val oracles = new java.util.TreeMap[String, String](
      SparkEntry.oracleSql.filter { case (k, _) => selected.contains(k) }.asJava)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(oracles))
    spark.stop()
  }
}
