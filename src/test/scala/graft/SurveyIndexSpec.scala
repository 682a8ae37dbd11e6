package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Coverage-contract guard: SURVEY.md §2's backtick-quoted query index,
  * the registered `SparkEntry.queries`, and `SparkEntry.oracleSql` must
  * all be the SAME name set, both directions. A new entry committed
  * without its SURVEY row, a renamed query leaving a stale row, or a
  * query missing its oracle fails HERE instead of in external review
  * (the index is diffed programmatically there). Pure-JVM: no session. */
class SurveyIndexSpec extends AnyFunSuite {

  private val namePat = "^(q\\d*_|q_|stream_|ingest_)[a-z0-9_]+$".r

  test("SURVEY.md query index equals SparkEntry.queries, both directions") {
    val survey = new String(Files.readAllBytes(Paths.get("SURVEY.md")), "UTF-8")
    val listed = "`([A-Za-z0-9_]+)`".r.findAllMatchIn(survey).map(_.group(1))
      .filter(n => namePat.findFirstIn(n).isDefined).toSet
    val registered = SparkEntry.queries.keySet
    val missingRows = registered -- listed
    val staleRows = listed -- registered
    assert(missingRows.isEmpty,
      s"registered but missing a SURVEY row: ${missingRows.toSeq.sorted}")
    assert(staleRows.isEmpty,
      s"in SURVEY but not registered: ${staleRows.toSeq.sorted}")
  }

  test("every registered query has an oracle, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("llm/ operator code never touches java.nio.file (cluster portability)") {
    // Operator, sink, stream and source store/scratch paths must go
    // through the Hadoop FS client (util.Fs) so they work when the path
    // is HDFS/object-store, not a driver-local disk (VERDICT r13
    // wrong-item 2). java.nio.ByteBuffer, java.io streams etc. remain
    // fine — only the java.nio.file package and java.io.File are the
    // local-FS leak.
    import scala.jdk.CollectionConverters._
    val localFs = """java\.nio\.file|java\.io\.File\b|java\.io\.\{[^}]*\bFile\b""".r
    val offenders = Seq("llm", "sinks", "streaming", "sources")
      .flatMap(d => Files.walk(Paths.get(s"src/main/scala/graft/$d")).iterator().asScala)
      .filter(_.toString.endsWith(".scala"))
      .filter(f => localFs.findFirstIn(new String(Files.readAllBytes(f), "UTF-8")).isDefined)
      .map(_.toString)
    assert(offenders.isEmpty,
      s"java.nio.file or java.io.File in llm/, sinks/, streaming/ or sources/ code: " +
        s"$offenders — use graft.util.Fs")
  }

  /** Text of each Scala file under `dir` (this guard's own file aside),
    * keyed by its path relative to src/. */
  private def sources(dir: String): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !f.endsWith("SurveyIndexSpec.scala"))
      .map(f => Paths.get("src").relativize(f).toString ->
        new String(Files.readAllBytes(f), "UTF-8"))
      .toMap
  }

  /** Files under src/ whose text contains `needle`. */
  private def filesContaining(needle: String): Set[String] =
    sources("src").collect { case (f, text) if text.contains(needle) => f }.toSet

  test("sessions are built only by graft.Session") {
    assert(filesContaining("SparkSession.builder") === Set("main/scala/graft/Session.scala"))
  }

  test("graft functions are registered only by the session factory and the entry boundary") {
    assert(filesContaining("GraftFunctions.register(") ===
      Set("main/scala/graft/Session.scala", "main/scala/graft/SparkEntry.scala"))
  }

  test("foreachBatch streams are driven only by Streams.drain and runToParquet") {
    // runToParquet's complete mode stays off drain: it rewrites the whole
    // result table on every batch
    assert(filesContaining(".foreachBatch") ===
      Set("main/scala/graft/util/Streams.scala", "main/scala/graft/streaming/StreamOps.scala"))
  }

  test("file-replay tick sources are built only by Streams.ticks") {
    assert(filesContaining("maxFilesPerTrigger\"") === Set("main/scala/graft/util/Streams.scala"))
  }

  test("scratch paths come only from Sinks.scratch: no tmpBase, no absolute build dir") {
    assert(filesContaining("tmpBase").isEmpty)
    val absoluteTarget = """"/[^"\s]*/target(/|")""".r
    assert(sources("src").collect {
      case (f, text) if absoluteTarget.findFirstIn(text).isDefined => f
    }.isEmpty)
  }

  test("the bucket store layout is known only to Sinks; no whole-store upsert") {
    // a second place that lists bucket dirs or reads the layout file could
    // bucket a row differently from the store it writes to
    Seq("_bucket=", "_graft_layout").foreach { needle =>
      assert(sources("src/main").collect { case (f, text) if text.contains(needle) => f }.toSet
        === Set("main/scala/graft/sinks/Sinks.scala"), needle)
    }
    assert(filesContaining("upsertInto").isEmpty)
  }

  test("bucket stores are healed and read only by Sinks") {
    // a caller that heals or lists bucket dirs itself would have to learn
    // every change of the store's layout or publish protocol
    val healers = sources("src/main").collect { case (f, text) if text.contains("Fs.heal(") => f }.toSet
    assert(healers.subsetOf(Set("main/scala/graft/util/Fs.scala", "main/scala/graft/sinks/Sinks.scala")), healers)
    assert(sources("src/main").collect { case (f, text) if text.contains("Sinks.bucketDirs") => f }.isEmpty)
  }

  test("no two literal scratch names in src/main are equal") {
    // two entries sharing a name would clear and overwrite each other's
    // scratch in one run
    val names = sources("src/main").values.toSeq
      .flatMap("""\bscratch\("([^"]+)"\)""".r.findAllMatchIn(_).map(_.group(1)))
    assert(names.nonEmpty)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"scratch names used more than once: ${repeated.toSeq.sorted}")
  }
}
