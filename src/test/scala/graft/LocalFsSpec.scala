package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileContext, FileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sinks.Sinks
import graft.util.{Fs, ForkFreeLocalFileSystem, ForkFreeLocalFs}

/** `file:` paths go through the fork-free local filesystem, and what it
  * creates gets the modes Hadoop's forked `chmod` gives under umask 022. */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  private def mode(p: String): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(Paths.get(p)))

  private def tree(dir: String): Seq[JPath] = {
    val w = Files.walk(Paths.get(dir))
    try w.iterator().asScala.toList finally w.close()
  }

  test("file: resolves to the fork-free filesystem in a session and in the no-session fallback") {
    Seq("session" -> spark.sparkContext.hadoopConfiguration, "fallback" -> Fs.fallbackConf())
      .foreach { case (name, conf) =>
        val fs = FileSystem.newInstance(local, conf)
        try assert(fs.isInstanceOf[ForkFreeLocalFileSystem], s"$name: ${fs.getClass}")
        finally fs.close()
        val afs = AbstractFileSystem.get(local, conf)
        assert(afs.isInstanceOf[ForkFreeLocalFs], s"$name FileContext: ${afs.getClass}")
      }
    // the JVM-wide cached instance, the one Spark's writes go through
    val cached = new Path(Sinks.runRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(cached.isInstanceOf[ForkFreeLocalFileSystem], cached.getClass)
  }

  test("files and directories made through Fs, FileContext and Spark get modes 0644 and 0755") {
    import spark.implicits._
    val dir = Sinks.scratch("spec_local_modes")
    Fs.write(s"$dir/fs/a.txt", "a")
    Fs.mkdirs(s"$dir/fs/sub")
    val fc = FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
    fc.mkdir(new Path(s"$dir/fc"), FsPermission.getDirDefault, true)
    fc.create(new Path(s"$dir/fc/b.txt"), EnumSet.of(CreateFlag.CREATE)).close()
    Seq((1, "x"), (2, "y")).toDF("k", "v").write.partitionBy("k").parquet(s"$dir/spark")
    val (dirs, files) = tree(dir).filter(_ != Paths.get(dir)).partition(Files.isDirectory(_))
    // every kind of entry is there: a data file, its .crc, a partition dir
    Seq("a.txt", "b.txt", "_SUCCESS", "k=1").foreach(n => assert(tree(dir).exists(_.getFileName.toString == n), n))
    assert(files.exists(_.getFileName.toString.endsWith(".parquet.crc")))
    files.foreach(f => assert(mode(f.toString) === "rw-r--r--", f))
    dirs.foreach(d => assert(mode(d.toString) === "rwxr-xr-x", d))
    Sinks.deleteRec(dir)
  }

  test("the mode bits are set from Hadoop's umask, not left at the process's") {
    val dir = Sinks.scratch("spec_local_umask")
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.set("fs.permissions.umask-mode", "077")
    val fs = FileSystem.newInstance(local, conf)
    try {
      fs.create(new Path(s"$dir/f")).close()
      fs.mkdirs(new Path(s"$dir/d"))
    } finally fs.close()
    assert(mode(s"$dir/f") === "rw-------")
    assert(mode(s"$dir/d") === "rwx------")
    Sinks.deleteRec(dir)
  }
}
