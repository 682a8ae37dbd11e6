package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions
import graft.sinks.Sinks
import graft.sources.Tables

/** The one place a session is built, and the one helper that overrides
  * session conf for a block. */
object Session {

  /** A `local[cpus]` session under the driver contract: shuffle
    * partitions = cpus, UI off, managed tables (q_bucketed_join) in the
    * run's scratch root, each SQL execution's shuffle files queued for
    * deletion when it ends
    * (`spark.sql.classic.shuffleDependency.fileCleanup.enabled`: a long
    * Bench/Verify run holds no earlier entry's shuffle on disk; the price
    * is that a second action on the same Dataset recomputes its shuffle),
    * then [[Tables.sessionConfs]], then `confs` (last wins). The
    * graft functions and optimizer rule are registered on it before it is
    * returned. */
  def build(cpus: Int, confs: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${Sinks.runRoot}/warehouse")
      .config("spark.sql.classic.shuffleDependency.fileCleanup.enabled", "true")
    (Tables.sessionConfs ++ confs).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    GraftFunctions.register(s)
    s
  }

  /** Run `body` with `confs` set on `s`, then put every key back as it
    * was: its old value, or unset if it was unset. Restores on failure
    * too. The override is session-global while `body` runs, and plans
    * read conf when they are optimized, so `body` must materialize what
    * depends on it. */
  def withConfs[T](s: SparkSession, confs: Map[String, String])(body: => T): T = {
    val prev = confs.keys.map(k => k -> Option.when(s.sessionState.conf.contains(k))(s.conf.get(k)))
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
