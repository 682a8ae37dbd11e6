package graft

import org.apache.spark.sql.AnalysisException

/** The session factory's two contracts: conf overrides are scoped to a
  * block, and every entry registers the graft functions on whatever
  * session it is handed. Plus the entry-name filter Verify and Bench
  * share. */
class SessionSpec extends SparkSpec {

  test("withConfs: sets for the body, then restores old values and unsets new keys (also on failure)") {
    val (set, unset) = ("spark.sql.shuffle.partitions", "spark.graft.sessionSpec.probe")
    val before = spark.conf.get(set)
    assert(spark.conf.getOption(unset).isEmpty)
    val confs = Map(set -> "1", unset -> "true")
    Session.withConfs(spark, confs) {
      assert(spark.conf.get(set) === "1" && spark.conf.get(unset) === "true")
    }
    assert(spark.conf.get(set) === before && spark.conf.getOption(unset).isEmpty)
    intercept[RuntimeException] {
      Session.withConfs(spark, confs)(throw new RuntimeException("boom"))
    }
    assert(spark.conf.get(set) === before && spark.conf.getOption(unset).isEmpty)
  }

  test("an entry registers the graft functions on a session that lacks them") {
    val fresh = spark.newSession()
    // newSession() starts from an empty runtime function registry
    intercept[AnalysisException](fresh.sql("SELECT graft_charhash('abc')").collect())
    val dir = java.nio.file.Files.createTempDirectory("session-spec").toString
    spark.range(12).selectExpr("IF(id % 2 = 0, 'A', 'R') AS l_returnflag",
        "CAST(id + 1 AS DOUBLE) AS l_quantity", "CAST(id * 10 AS DOUBLE) AS l_extendedprice")
      .write.parquet(s"$dir/lineitem.parquet")
    val q = SparkEntry.queries("q_agg_declarative_wavg")
    assert(q(fresh, dir).collect().toSeq === q(spark, dir).collect().toSeq)
    assert(fresh.sql("SELECT graft_charhash('abc')").head().getLong(0) === 96354L)
    assert(fresh.experimental.extraOptimizations.contains(functions.FuseWordCount))
  }

  test("select: an unknown entry name fails and lists every unknown name") {
    val e = intercept[IllegalArgumentException](
      SparkEntry.select(Some("q_agg_percentile, q_nope,q_typo")))
    assert(e.getMessage.contains("q_nope, q_typo"), e.getMessage)
    assert(!e.getMessage.contains("q_agg_percentile"), e.getMessage)
    assert(SparkEntry.select(Some(" q_agg_percentile ,")).keySet === Set("q_agg_percentile"))
  }

  test("select: no filter or a blank one selects every entry") {
    val all = SparkEntry.queries.keySet
    assert(SparkEntry.select(None).keySet === all)
    assert(SparkEntry.select(Some(" , ")).keySet === all)
    assert(SparkEntry.select(Some("")).keySet === all)
  }
}
