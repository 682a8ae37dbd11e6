package graft.util

import java.io.{FileNotFoundException, IOException, OutputStream}
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsConstants,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession

/** Hadoop-FileSystem access for every store, staging and scratch path the
  * engine manages itself. `java.nio.file` only reaches a disk local to the
  * DRIVER; on a cluster these paths are HDFS/object-store URIs, so every
  * existence check, listing, delete and rename resolves through the
  * Hadoop client of the path's scheme, configured from the active (else
  * default) session's `hadoopConfiguration` — a plain `Configuration`
  * when no session is running.
  *
  * STAGED PUBLISH — a new sink publishes only through it. A sink writes
  * its output to an invisible staging path (normally [[stagingOf]] the
  * target: a dot-prefixed sibling every Spark and DuckDB reader skips)
  * and makes it visible with one of three operations:
  *
  *  - [[swap]]`(staged, live)`: move `live` to its hidden `.old` sibling,
  *    move `staged` to `live`, drop the old copy. Readers see the old
  *    content or the new, never a partial file set; a reader racing the
  *    swap can find `live` briefly absent. Each rename demands an absent
  *    target, because Hadoop's `rename` onto an existing directory nests
  *    the source inside it instead of failing.
  *  - [[heal]]`(p)`: a crash between swap's renames strands `.old` copies;
  *    heal moves a stranded copy back when its live path is missing and
  *    drops it when the swap had finished — for `p` itself and for every
  *    entry directly inside `p` (a bucket store's per-bucket swaps). Every
  *    swap heals its own target first, and the bucket-store readers in
  *    [[graft.sinks.Sinks]] heal the store before they read; callers
  *    never heal.
  *  - [[replaceFile]]`(staged, live)`: replace one small file (a MANIFEST
  *    pointer, a per-tag part file) — one rename where the filesystem
  *    replaces files atomically (POSIX local disk), a swap where it
  *    refuses an existing target (HDFS, object stores).
  *
  * A crash at any step, followed by a re-run of the same operation, ends
  * in the state of a run with no crash and leaves no staging or `.old`
  * entries behind (SinksCrashSpec enumerates every step). Spark's own
  * writes commit with FileOutputCommitter v2 session-wide
  * ([[graft.sources.Tables.sessionConfs]]), which is not atomic mid-job:
  * never point readers at a directory a Spark job is writing into.
  *
  * LOCAL DISK — `file:` paths resolve to [[ForkFreeLocalFileSystem]]
  * ([[localConfs]]), in sessions and in the no-session fallback alike. */
object Fs {

  /** The Hadoop settings that bind `file:` to [[ForkFreeLocalFileSystem]].
    * Sessions take them as `spark.hadoop.*` confs
    * ([[graft.sources.Tables.sessionConfs]]); the no-session fallback
    * below sets them too, because Hadoop caches one `FileSystem` per
    * scheme JVM-wide: the first `file:` lookup decides the class for the
    * rest of the run, and a harness may delete its scratch before any
    * session exists. The second entry binds the `FileContext` API, which
    * Structured Streaming writes its checkpoints through and which
    * `fs.file.impl` does not reach. */
  val localConfs: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  /** What Hadoop clients here are configured from when no session runs. */
  private[graft] def fallbackConf(): Configuration = {
    val c = new Configuration()
    localConfs.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def conf: Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .filterNot(_.sparkContext.isStopped)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(fallbackConf())

  private def fsFor(p: String): (FileSystem, Path) = {
    val path = new Path(p)
    (path.getFileSystem(conf), path)
  }

  /** Direct children of `dir`; empty when `dir` is absent. */
  private def children(dir: String): Seq[FileStatus] = {
    val (fs, path) = fsFor(dir)
    try fs.listStatus(path).toSeq
    catch { case _: FileNotFoundException => Seq.empty }
  }

  /** True iff `p` exists on whatever filesystem its scheme resolves to. */
  def exists(p: String): Boolean = {
    val (fs, path) = fsFor(p)
    fs.exists(path)
  }

  def isDirectory(p: String): Boolean = {
    val (fs, path) = fsFor(p)
    fs.isDirectory(path)
  }

  /** Recursive delete; no-op when absent. */
  def delete(p: String): Unit = {
    val (fs, path) = fsFor(p)
    fs.delete(path, true); ()
  }

  /** Names of the direct child DIRECTORIES of `dir` (empty when `dir`
    * is absent). One listStatus RPC — the bucket-store discovery idiom:
    * probing each candidate child with `exists` costs one RPC per
    * candidate (buckets² at the 65536-bucket cap), listing costs one
    * per parent. */
  def listDirs(dir: String): Seq[String] =
    children(dir).filter(_.isDirectory).map(_.getPath.getName)

  /** Direct child files of `dir` whose name ends with `suffix`, as full
    * paths, sorted. */
  def listFiles(dir: String, suffix: String): Seq[String] =
    children(dir).filter(_.isFile).map(_.getPath.toString)
      .filter(_.endsWith(suffix)).sorted

  def mkdirs(p: String): Unit = {
    val (fs, path) = fsFor(p)
    fs.mkdirs(path); ()
  }

  /** A small UTF-8 file: store metadata, MANIFEST pointers. */
  def read(p: String): String = {
    val (fs, path) = fsFor(p)
    val in = fs.open(path)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  def write(p: String, text: String): Unit = {
    val out = create(p)
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  /** A new file at `p` (parents created, any old file replaced), open
    * for a streamed write. */
  def create(p: String): OutputStream = {
    val (fs, path) = fsFor(p)
    fs.create(path, true)
  }

  /** Total bytes under `p` (file or directory tree); 0 when absent.
    * One metadata call (`getContentSummary` — recursive on the server
    * side for HDFS, a listing walk elsewhere), never a data read: the
    * cheap input-volume signal stream sizing decisions are made from. */
  def sizeBytes(p: String): Long = {
    val (fs, path) = fsFor(p)
    if (!fs.exists(path)) 0L else fs.getContentSummary(path).getLength
  }

  /** Rename within one filesystem onto an absent target (the
    * staging→source move of a just-written fixture file). */
  def move(from: String, to: String): Unit = {
    val (fs, path) = fsFor(to)
    rename(fs, new Path(from), path)
  }

  /** Set the modification time (ms) — file-stream sources order their
    * backlog by mtime, so fixture-staged sources pin it explicitly.
    * HDFS/local honor it; object stores may no-op (acceptable: ordering
    * there comes from ingest time anyway). */
  def setMtime(p: String, mtimeMs: Long): Unit = {
    val (fs, path) = fsFor(p)
    fs.setTimes(path, mtimeMs, -1)
  }

  // --- staged publish -----------------------------------------------------

  private def sibling(live: String, kind: String): String = {
    val p = new Path(live)
    new Path(p.getParent, s".${p.getName}.$kind").toString
  }

  /** Where a staged write of `live` goes: its hidden `.staging` sibling. */
  def stagingOf(live: String): String = sibling(live, "staging")

  /** Where [[swap]] parks the previous content of `live`. */
  def oldOf(live: String): String = sibling(live, "old")

  private val OldName = """\.(.+)\.old""".r

  /** Rename onto an absent target, failing loudly: Hadoop reports a
    * refused rename by returning false, not by throwing. */
  private def rename(fs: FileSystem, from: Path, to: Path): Unit = {
    if (fs.exists(to)) throw new IOException(s"publish target exists: $to")
    if (!fs.rename(from, to)) throw new IOException(s"rename failed: $from -> $to")
  }

  /** Heal the swap of `live` alone (see the protocol above). */
  private def restore(fs: FileSystem, live: Path, old: Path): Unit =
    if (fs.exists(old)) {
      if (fs.exists(live)) fs.delete(old, true) else rename(fs, old, live)
    }

  /** Heal `p` and every entry directly inside it. */
  def heal(p: String): Unit = {
    val (fs, path) = fsFor(p)
    restore(fs, path, new Path(oldOf(p)))
    children(p).map(_.getPath.getName).foreach {
      case OldName(name) =>
        val live = new Path(path, name)
        restore(fs, live, new Path(oldOf(live.toString)))
      case _ => ()
    }
  }

  /** Publish `staged` as `live`, replacing whatever `live` held. */
  def swap(staged: String, live: String): Unit = {
    val (fs, l) = fsFor(live)
    val (s, o) = (new Path(staged), new Path(oldOf(live)))
    restore(fs, l, o)
    if (!fs.exists(s)) throw new IOException(s"nothing staged at $s")
    val replacing = fs.exists(l)
    if (replacing) rename(fs, l, o)
    rename(fs, s, l)
    if (replacing) fs.delete(o, true)
  }

  /** Publish the staged FILE `staged` as the file `live`. */
  def replaceFile(staged: String, live: String): Unit = {
    val (fs, l) = fsFor(live)
    if (!fs.rename(new Path(staged), l)) swap(staged, live)
  }
}

/** Hadoop's raw local filesystem, minus the fork behind every create.
  * Without libhadoop (Spark's jar directory ships none)
  * `RawLocalFileSystem.setPermission` forks a `chmod` process for each
  * file, `.crc` file and directory it creates: a one-byte `create` took
  * 6.3-6.9 ms with its two forks and 0.4-0.5 ms without them (median of
  * 300, 4-vCPU VM; PERF.md finding 85). This sets the same 9 mode bits
  * through `java.nio` instead, and falls back to Hadoop's own call where
  * the disk has no POSIX permissions. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = new FsPermission((permission.toShort & 0x1ff).toShort)
    try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

/** The checksummed `file:` filesystem over [[ForkFreeRawLocalFileSystem]]:
  * what `fs.file.impl` names ([[Fs.localConfs]]). */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` binding of [[ForkFreeLocalFileSystem]], in Hadoop's
  * `LocalFs` shape (checksummed, over the raw filesystem): what
  * `fs.AbstractFileSystem.file.impl` names ([[Fs.localConfs]]). Hadoop
  * instantiates it with a (URI, Configuration) constructor; the URI of
  * `file:` is fixed. */
class ForkFreeLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** `RawLocalFs` over [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  // as RawLocalFs: no port, and any local path name is valid
  override def getUriDefaultPort: Int = -1
  override def isValidName(src: String): Boolean = true
}
