package graft.sinks

import java.util.UUID

import org.apache.hadoop.fs.FileSystem
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

import graft.ingest.CommitEtl
import graft.sources.Tables
import graft.util.Exact._
import graft.util.{Fs, Streams}

/** Durable sink surface: crash-safe atomic overwrite, partitioned tables
  * with pruned reads (reference O7, the KV prefix scan `git_etl.ts:142`),
  * truncate/reset (O11, `git_etl.ts:293-308`), a `foreachBatch` merge sink
  * (O8 made durable, `git_etl.ts:127-132`), and `observe()` row-count
  * metrics (O13, `git_etl.ts:67-71`).
  *
  * Every sink here publishes through the staged-publish protocol of
  * [[graft.util.Fs]] (SURVEY §7.4): readers see a table, bucket, version
  * or manifest from before a write or after it, never half of one — where
  * the reference's row-at-a-time writes (`git_etl.ts:128-131`) can leave
  * half a batch on crash. A crashed sink call is recovered by re-running
  * it. */
object Sinks {

  /** This JVM's scratch root, `target/qtmp/run-<pid>-<random>` under the
    * working directory: two runs on one machine, or a run from a copy of
    * the tree, never share a path. Naming it creates nothing — the first
    * write beneath it does — and the whole root is deleted when the JVM
    * exits, after Spark's own shutdown and before Hadoop closes its
    * filesystems. */
  lazy val runRoot: String = {
    val root = s"${System.getProperty("user.dir")}/target/qtmp/" +
      s"run-${ProcessHandle.current.pid}-${UUID.randomUUID.toString.take(8)}"
    ShutdownHookManager.get()
      .addShutdownHook(() => Fs.delete(root), FileSystem.SHUTDOWN_HOOK_PRIORITY + 10)
    root
  }

  /** The scratch path `name` beneath [[runRoot]], empty: whatever an
    * earlier call left there is deleted with its publish sidecars
    * ([[truncate]]), and the first write creates it. The one place an
    * entry's scratch gets its location and starts empty. */
  def scratch(name: String): String = {
    val p = s"$runRoot/$name"
    truncate(p)
    p
  }

  def deleteRec(p: String): Unit = Fs.delete(p)

  /** O11: truncate/reset a table directory (the reference clears its KV
    * store + WAL sidecars on startup when configured; `git_etl.ts:293-308`).
    * Also clears the publish sidecars so a fresh store never resurrects
    * a stale `.old` copy. */
  def truncate(dest: String): Unit =
    Seq(dest, Fs.stagingOf(dest), Fs.oldOf(dest)).foreach(Fs.delete)

  /** Stage `write`'s output beside `live`, then swap it in. */
  private def publish(live: String)(write: String => Unit): Unit = {
    val staged = Fs.stagingOf(live)
    Fs.delete(staged)
    write(staged)
    Fs.swap(staged, live)
  }

  /** Publish a SET of tables as one atomic unit: every table's data lands
    * under `base/tables/<name>/v_<version>` first, then the one-line
    * MANIFEST pointer is replaced. Readers resolve the pointer, so they
    * see the previous complete set or the new one — never a cross-version
    * mix (the guarantee per-table [[writeAtomic]] cannot give across
    * tables). A replay of an already-committed version is a no-op:
    * readers are LIVE on those `v_<version>` dirs. */
  def publishSet(s: SparkSession, base: String, version: Long,
                 tables: Map[String, DataFrame]): Unit = {
    Fs.heal(base)
    val committed =
      try manifestVersion(base) catch { case _: Exception => Long.MinValue }
    // <= not ==: a delayed replay of an OLDER committed publish must not
    // roll readers back to stale data (versions are monotone by contract)
    if (version <= committed) return
    tables.foreach { case (name, df) =>
      publish(s"$base/tables/$name/v_$version")(df.write.mode("overwrite").parquet)
    }
    val manifest = s"$base/MANIFEST"
    Fs.write(Fs.stagingOf(manifest), version.toString)
    Fs.replaceFile(Fs.stagingOf(manifest), manifest)
  }

  /** Current committed version of a [[publishSet]] store. */
  def manifestVersion(base: String): Long =
    Fs.read(s"$base/MANIFEST").trim.toLong

  /** Read one table of the committed set — always the manifest's version. */
  def readSet(s: SparkSession, base: String, name: String): DataFrame =
    s.read.parquet(s"$base/tables/$name/v_${manifestVersion(base)}")

  /** Crash-safe atomic overwrite. Optional `partitionBy` produces a layout
    * whose reads prune. */
  def writeAtomic(df: DataFrame, dest: String, partitionCols: Seq[String] = Nil): Unit =
    publish(dest) { staged =>
      val w = df.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).parquet(staged)
    }

  // ---------------------------------------------------------------------
  // Bucket store: the one keyed parquet store. Rows live under
  // `<store>/_bucket=<id>/`, a row's bucket is its [[BucketLayout]]'s
  // `pmod` of one column, and the layout is persisted in the store's one
  // metadata file, written atomically with the store's first publish.
  // Everything that knows where a bucket lives or which bucket a value
  // hashes to is below; callers go through it.
  // ---------------------------------------------------------------------

  /** A bucket store's layout: `n` buckets of the column `column`, and the
    * `schema` of its rows (`_bucket` last), recorded when the store is
    * created. */
  final case class BucketLayout(n: Int, column: String, schema: StructType) {
    /** The bucket `c`'s value lives in — the one hash law of a bucket
      * store. Int-typed, so `_bucket` round-trips partition discovery
      * with a stable type. */
    def bucketOf(c: Column): Column = pmod(c, lit(n)).cast("int")

    /** The distinct buckets `rows`' `c` values hash into, ascending. One
      * stage: each task sends the driver the set of its rows' buckets (at
      * most `n` ints), where a `distinct()` would plan a shuffle that AQE
      * runs as two jobs. */
    def bucketsOf(rows: DataFrame, c: Column): IndexedSeq[Int] =
      rows.select(bucketOf(c)).rdd
        .mapPartitions(it => Iterator.single(it.map(_.getInt(0)).toSet))
        .collect().flatten.distinct.sorted.toIndexedSeq
  }

  /** The schema a store of rows with `columns` records: every column
    * nullable (a parquet read makes them so), then the int `_bucket`. */
  private def storeSchema(columns: StructType): StructType =
    StructType(columns.fields.filter(_.name != "_bucket").map(_.copy(nullable = true)) :+
      StructField("_bucket", IntegerType))

  /** Name of the layout metadata file inside a bucket store
    * (underscore-prefixed: invisible to Spark readers). */
  private val LayoutFile = "_graft_layout"

  /** The layout file: the bucket count, the column and the schema's JSON,
    * one per line. */
  private def writeLayout(dir: String, layout: BucketLayout): Unit =
    Fs.write(s"$dir/$LayoutFile", Seq(layout.n.toString, layout.column, layout.schema.json).mkString("\n"))

  /** The layout the bucket store `dest` was created with. Fails, naming
    * the path, when the store has no layout metadata: bucketing a row by
    * a guessed layout could put it beside no stored twin. */
  def layoutOf(dest: String): BucketLayout = {
    val meta = s"$dest/$LayoutFile"
    if (!Fs.exists(meta))
      throw new IllegalStateException(s"no bucket store layout at $meta")
    val Array(n, column, schema) = Fs.read(meta).split("\n", 3).map(_.trim)
    BucketLayout(n.toInt, column, DataType.fromJson(schema).asInstanceOf[StructType])
  }

  // Reads. Every read of a bucket store goes through the functions below:
  // they heal the store first (Fs's protocol), so a bucket stranded at
  // its `.old` sibling by a crashed swap is read back, never skipped, and
  // a store is absent only when healing found nothing. They read under the
  // recorded schema: a bare parquet read would first run a Spark job to
  // infer it from a footer. Sink calls below, which have healed already,
  // read through the private [[readDirs]].

  /** The rows of the bucket store `dest` (with their `_bucket`). Fails,
    * naming the path, when there is no store. */
  def readStore(s: SparkSession, dest: String): DataFrame =
    readStoreIfExists(s, dest).getOrElse(throw new IllegalStateException(s"no bucket store at $dest"))

  /** [[readStore]], or None when there is no store at `dest`. */
  def readStoreIfExists(s: SparkSession, dest: String): Option[DataFrame] = {
    Fs.heal(dest)
    Option.when(Fs.exists(dest))(s.read.schema(layoutOf(dest).schema).parquet(dest))
  }

  /** The rows of the named `buckets` of the store `dest` — file-level
    * pruning: no other bucket's files are listed, let alone read. Buckets
    * the store does not hold read as no rows. */
  def readBuckets(s: SparkSession, dest: String, buckets: Seq[Int]): DataFrame = {
    Fs.heal(dest)
    readDirs(s, dest, layoutOf(dest), bucketDirs(dest, buckets))
  }

  /** The bucket dirs `dirs` of the store `dest`, under `layout`'s schema;
    * none: an empty local relation of that schema, which Spark sizes at
    * zero bytes ([[bucketSlots]] reads the size). */
  private def readDirs(s: SparkSession, dest: String, layout: BucketLayout,
                       dirs: Seq[String]): DataFrame =
    if (dirs.isEmpty) s.createDataFrame(java.util.Collections.emptyList[Row](), layout.schema)
    else s.read.schema(layout.schema).option("basePath", dest).parquet(dirs: _*)

  /** `rows`' columns as name -> type, nullability aside (a parquet read
    * makes every column nullable). */
  private def columnTypes(rows: StructType): Map[String, String] =
    rows.fields.map(f => f.name -> f.dataType.catalogString).toMap

  /** How a rewrite of `buckets` buckets from `inputs` is spread over
    * tasks. `Some(n)`: one file per bucket, from `n = min(buckets, cores)`
    * tasks — while Spark's size estimate of the inputs is at most `n`
    * times `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB
    * by default). AQE packs at least that much into each task of a
    * shuffle, so it would run no more than `n` tasks anyway; a tick's
    * rewrite it coalesces into ONE task, which writes every bucket in
    * turn. `None` above it: a larger rewrite keeps its own tasks (the
    * upsert's key-partitioned window, a delete's scan), each writing a
    * file into every bucket it holds rows of, so the bucket count never
    * caps its parallelism; [[compactBuckets]] folds those files. */
  private def bucketSlots(s: SparkSession, buckets: Int, inputs: DataFrame*): Option[Int] = {
    val n = onePerBucket(s, buckets)
    val bytes = inputs.map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum
    Option.when(bytes <= n * s.sessionState.conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))(n)
  }

  /** Tasks that write `buckets` buckets one file each: one task per
    * bucket, at most one per core. */
  private def onePerBucket(s: SparkSession, buckets: Int): Int =
    math.max(1, math.min(buckets, s.sparkContext.defaultParallelism))

  /** The one writer of bucket files: `df`'s rows (an int `_bucket`
    * column) under `dir`, one directory per bucket. With `slots =
    * Some(n)`, a numbered repartition on `_bucket` gives each bucket to
    * exactly one of `n` tasks, so each bucket is one file; AQE never
    * coalesces a numbered repartition, and the planner drops it when
    * `df` is already laid out this way (a small merge's upsert). With
    * `None`, `df`'s own tasks write. */
  private def writeBuckets(df: DataFrame, dir: String, slots: Option[Int]): Unit =
    slots.fold(df)(n => df.repartition(n, col("_bucket")))
      .write.mode("overwrite").partitionBy("_bucket").parquet(dir)

  private def bucketDir(dest: String, b: Int): String = s"$dest/_bucket=$b"

  /** The bucket directories under `dir` right now, as (bucket id, path),
    * bucket id ascending. */
  def bucketListing(dir: String): Seq[(Int, String)] =
    Fs.listDirs(dir).filter(_.startsWith("_bucket="))
      .map(d => d.stripPrefix("_bucket=").toInt -> s"$dir/$d").sortBy(_._1)

  /** The existing dirs of the named `buckets` of the store `dest`, bucket
    * id ascending: one listing of the store. */
  private[graft] def bucketDirs(dest: String, buckets: Seq[Int]): Seq[String] = {
    val named = buckets.toSet
    bucketListing(dest).collect { case (b, dir) if named(b) => dir }
  }

  /** Partition-scoped keyed merge (the 100 TB fix for rewrite-the-world
    * upserts): the store is partitioned by a STABLE hash bucket of the key
    * (never by event time — an update with a changed timestamp would land
    * in a different partition and leave its stale twin behind). Each merge
    * reads ONLY the buckets the incoming batch touches, upserts, and
    * rewrites ONLY those buckets. A batch touching 1% of buckets rewrites
    * 1% of the table.
    *
    * Each touched bucket is swapped in on its own, so a reader racing a
    * merge may see some buckets updated before others; per-key
    * (within-bucket) consistency always holds, and a replayed tick
    * converges because the keyed upsert is idempotent. */
  def mergeByKeyBucket(s: SparkSession, dest: String, batch: DataFrame,
                       key: String, orderCols: Seq[String],
                       nBuckets: Int = 16,
                       bucketCol: String = null): Unit = {
    // bucketCol (default: the key) lets a store physically cluster by a
    // DIFFERENT column than its merge key — e.g. a denormalized join view
    // keyed by fact id but bucketed by the dimension FK, so dim-driven
    // backfills prune to the changed keys' buckets. The caller's contract:
    // bucketCol is functionally dependent on the key and IMMUTABLE for a
    // given key (otherwise an update could land beside a stale twin it
    // never reads).
    Fs.heal(dest)
    val fresh = !Fs.exists(dest)
    // a merge buckets by the STORE's layout, not the caller's: a mismatch
    // would assign a key's new row to a different bucket than its stored
    // twin, and the upsert (which only reads touched buckets) would leave
    // the stale twin alive — silent duplicate keys
    val layout =
      if (fresh) BucketLayout(nBuckets, Option(bucketCol).getOrElse(key), storeSchema(batch.schema))
      else layoutOf(dest)
    val bucketed = batch.withColumn("_bucket", layout.bucketOf(col(layout.column)))
    // a small upsert's one shuffle lays its rows out the way the bucket
    // writer wants them (by `_bucket`, a function of the key, into the
    // writer's tasks), so the write adds no second exchange
    def upsert(existing: DataFrame, slots: Option[Int]) = CommitEtl.upsert(existing, bucketed,
      key, orderCols, cluster = slots.map("_bucket" -> _))
    if (fresh) {
      // first write: the same upsert as every later merge (against an
      // empty store), so duplicate keys within the batch collapse here
      // too; the whole store publishes at once, its layout and schema
      // persisted INSIDE the staged dir, atomic with the data
      val slots = bucketSlots(s, layout.n, bucketed)
      publish(dest) { staged =>
        writeBuckets(upsert(bucketed.limit(0), slots), staged, slots)
        writeLayout(staged, layout)
      }
    } else {
      if (columnTypes(layout.schema) != columnTypes(bucketed.schema))
        throw new IllegalArgumentException(s"batch columns ${bucketed.schema.catalogString} " +
          s"differ from the ${layout.schema.catalogString} of the bucket store at $dest")
      val touched = layout.bucketsOf(batch, col(layout.column))
      val existing = readDirs(s, dest, layout, bucketDirs(dest, touched))
      val slots = bucketSlots(s, touched.size, existing, bucketed)
      rewriteBuckets(s, dest, upsert(existing, slots), touched, slots, dropMissing = false)
    }
  }

  /** The (key, `_del_bucket`) rows of a delete list: `_del_bucket` is the
    * data bucket the key lives in when the store's layout column is the
    * key or `keys` carries it, and null when the list cannot be pruned
    * (it lacks the layout column). */
  private def deleteTargets(layout: BucketLayout, keys: DataFrame, key: String): DataFrame = {
    val bucket =
      if (layout.column == key || keys.columns.contains(layout.column))
        layout.bucketOf(col(layout.column))
      else lit(null).cast("int")
    keys.select(col(key), bucket.as("_del_bucket")).distinct()
  }

  /** Remove the rows whose `key` is in `targets` ([[deleteTargets]]'
    * shape): read only the buckets the targets name — every existing
    * bucket when any target has none — anti-join the keys, and swap the
    * buckets back, dropping the ones left empty. */
  private def dropKeys(s: SparkSession, dest: String, targets: DataFrame,
                       key: String): Unit = {
    val named = targets.select(col("_del_bucket")).distinct().collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    val listing = bucketListing(dest)
    val touched =
      if (named.forall(_.isDefined)) listing.filter { case (b, _) => named.contains(Some(b)) }
      else listing
    if (touched.nonEmpty) {
      val remaining = readDirs(s, dest, layoutOf(dest), touched.map(_._2))
        .join(targets.select(col(key)).distinct(), Seq(key), "left_anti")
      rewriteBuckets(s, dest, remaining, touched.map(_._1), dropMissing = true)
    }
  }

  /** Keyed DELETE from a [[mergeByKeyBucket]] store: remove every row whose
    * `key` appears in `keys`, rewriting only the touched buckets. The GDPR
    * / right-to-be-forgotten primitive: at 100 TB a delete list of any
    * size costs only the buckets it hashes into, never a full-table
    * rewrite. Idempotent — replaying a delete finds no matching keys and
    * rewrites the same (already-clean) buckets. A bucket whose rows are
    * all deleted is dropped from the store (readers of `dest` see the
    * remaining buckets; partition discovery needs no placeholder).
    *
    * Buckets come from the store's layout column, not the merge key: a
    * bucketCol store (e.g. the FK-bucketed join MV) hashes rows by the
    * FK, so a delete list without the FK anti-joins every bucket
    * (correct but unpruned — supply the layout column in `keys` to keep
    * the 100 TB pruning property). */
  def deleteByKeyBucket(s: SparkSession, dest: String, keys: DataFrame,
                        key: String): Unit = {
    Fs.heal(dest)
    if (Fs.exists(dest)) dropKeys(s, dest, deleteTargets(layoutOf(dest), keys, key), key)
  }

  /** Merge-on-read keyed DELETE — the cheap tier [[deleteByKeyBucket]]'s
    * copy-on-write rewrite pairs with (the standard lakehouse split:
    * Delta/Iceberg deletion vectors vs rewrite). A 100-key GDPR delete on
    * a 100 TB store should not rewrite ~100 multi-hundred-MB buckets at
    * request time; it appends the keys to an underscore-prefixed sidecar
    * (`dest/_deletes/` — invisible to plain parquet readers of `dest`),
    * [[readWithDeletes]] anti-joins the sidecar at read time, and
    * [[compactDeletes]] later folds the log into the data buckets. The
    * delete itself moves O(delete-list) bytes and touches ZERO data
    * buckets (spec-asserted).
    *
    * Replay-idempotent via `tag`: a replayed tick replaces its own
    * `del_<tag>_*` files, so re-shipping a delete list never duplicates
    * sidecar rows (harmless anyway — the anti-join is set-semantics —
    * but unbounded sidecar growth isn't).
    *
    * Sidecar schema: (key, `_del_bucket` int), the rows of
    * [[deleteTargets]] — compaction prunes to the named buckets, and a
    * null `_del_bucket` row falls back to an all-bucket anti-join (still
    * correct, just unpruned — same contract as [[deleteByKeyBucket]]).
    *
    * CONTRACT: the sidecar masks by KEY until compacted, with no
    * sequence numbers — re-upserting a key whose delete is still pending
    * would leave the new row masked. Callers that resurrect keys must
    * [[compactDeletes]] first (the incremental-store orchestration does
    * exactly this ordering). */
  def deleteByKeyMoR(s: SparkSession, dest: String, keys: DataFrame,
                     key: String, tag: String): Unit = {
    Fs.heal(dest)
    if (!Fs.exists(dest)) return
    val delDir = s"$dest/_deletes"
    val staged = Fs.stagingOf(s"$delDir/del_$tag")
    Fs.delete(staged)
    deleteTargets(layoutOf(dest), keys, key).write.mode("overwrite").parquet(staged)
    replaceTagged(staged, delDir, s"del_${tag}_")
    Fs.delete(staged)
  }

  /** Move the staged part files into `dir` under the deterministic names
    * `<prefix><i>.parquet`, after clearing every file an earlier attempt
    * published under `prefix` — so a replay that stages fewer files than
    * the first attempt cannot leave a stale higher-index file (duplicated
    * rows) behind. */
  private def replaceTagged(staged: String, dir: String, prefix: String): Unit = {
    Fs.mkdirs(dir)
    Fs.listFiles(dir, ".parquet")
      .filter(p => p.substring(p.lastIndexOf('/') + 1).startsWith(prefix))
      .foreach(Fs.delete)
    Fs.listFiles(staged, ".parquet").zipWithIndex.foreach { case (p, i) =>
      Fs.replaceFile(p, s"$dir/$prefix$i.parquet")
    }
  }

  /** The store's pending (un-compacted) delete keys, or None if the
    * sidecar is absent/empty. Bounded by the delete traffic since the
    * last compaction, not by store size. */
  def pendingDeleteKeys(s: SparkSession, dest: String): Option[DataFrame] = {
    val delDir = s"$dest/_deletes"
    if (Fs.listFiles(delDir, ".parquet").isEmpty) None
    else Some(s.read.parquet(delDir))
  }

  /** Read a bucketed store with pending MoR deletes applied: base scan
    * anti-joined against the sidecar keys. No broadcast hint — the
    * sidecar is usually tiny (AQE broadcasts it), but nothing bounds it
    * between compactions, so forcing a broadcast would be the 100 TB
    * OOM; AQE picks per the sidecar's actual size. A store with no
    * sidecar reads with zero overhead (no join in the plan at all). */
  def readWithDeletes(s: SparkSession, dest: String, key: String): DataFrame = {
    val base = readStore(s, dest)
    pendingDeleteKeys(s, dest) match {
      case None => base
      case Some(d) =>
        base.join(d.select(col(key)).distinct(), Seq(key), "left_anti")
    }
  }

  /** Fold the pending delete sidecar into the data buckets (the
    * compaction half of the MoR contract): anti-join ONLY the buckets
    * the sidecar names (all-bucket fallback when any row lacks a
    * recorded bucket), swap them in, then clear the sidecar. The store is
    * healed first: a bucket stranded in its `.old` copy would otherwise
    * be missing from the touched set, its deletes skipped and then
    * cleared. A crash anywhere converges on replay — the anti-join of
    * already-deleted keys is a no-op. The result is row-identical to
    * having taken [[deleteByKeyBucket]] directly (spec-asserted). */
  def compactDeletes(s: SparkSession, dest: String, key: String): Unit = {
    Fs.heal(dest)
    pendingDeleteKeys(s, dest).foreach(dropKeys(s, dest, _, key))
    Fs.delete(s"$dest/_deletes")
  }

  /** Replace the `touched` buckets of a bucketed store with `df`'s rows
    * (`df` carries an int `_bucket` column and holds rows ONLY for
    * touched buckets): stage them under the store's `_merge_staging`
    * (underscore: invisible to readers of the store) through
    * [[writeBuckets]], spread over tasks as [[bucketSlots]] decides from
    * `df`'s size, then swap each touched bucket in.
    * `dropMissing`: a touched bucket with NO staged output (every row
    * deleted or moved elsewhere) is removed from the live store instead
    * of left stale — the delete paths and multiset stores like the CC
    * edge log set it; merge/compact paths never shrink a bucket to zero
    * rows, so for them a missing staged dir means untouched. */
  def rewriteBuckets(s: SparkSession, dest: String, df: DataFrame,
                     touched: Seq[Int], dropMissing: Boolean = false): Unit =
    rewriteBuckets(s, dest, df, touched, bucketSlots(s, touched.size, df), dropMissing)

  /** [[rewriteBuckets]] with its write's tasks given. */
  private def rewriteBuckets(s: SparkSession, dest: String, df: DataFrame,
                             touched: Seq[Int], slots: Option[Int],
                             dropMissing: Boolean): Unit = {
    val staging = s"$dest/_merge_staging"
    Fs.delete(staging)
    writeBuckets(df, staging, slots)
    touched.foreach { b =>
      val (staged, live) = (bucketDir(staging, b), bucketDir(dest, b))
      if (Fs.exists(staged)) Fs.swap(staged, live)
      else if (dropMissing) Fs.delete(live)
    }
    Fs.delete(staging)
  }

  /** Create an empty bucket store of `nBuckets` buckets of `column` for
    * rows with the columns of `rows` (plus `_bucket`, which `rows` may
    * hold or not): just the directory plus its layout metadata (callers
    * then populate it with [[rewriteBuckets]] or [[appendBuckets]]).
    * No-op if the store already exists. Serves MULTISET bucket stores — rows bucketed by
    * some derived column with no unique merge key — which
    * [[mergeByKeyBucket]]'s keyed init path can't host (its upsert would
    * collapse same-key rows). */
  def initBucketStore(dest: String, nBuckets: Int, column: String, rows: StructType): Unit = {
    Fs.heal(dest) // a store stranded at `.old` exists: publishing would replace it
    if (!Fs.exists(dest))
      publish(dest)(writeLayout(_, BucketLayout(nBuckets, column, storeSchema(rows))))
  }

  /** Append `df`'s rows (carrying an int `_bucket` column) to a bucketed
    * MULTISET store without reading or rewriting existing bucket content:
    * rows are staged partitioned-by-bucket ([[writeBuckets]]: one staged
    * file per bucket), then each
    * staged file moves into the live bucket dir under a DETERMINISTIC
    * per-(tag, bucket) name — a replayed tick replaces its own file
    * instead of duplicating rows. This is what makes a merge-free
    * edge-log tick O(batch): no existing bucket is read or swapped.
    * [[compactBuckets]] later folds the accumulated per-tick files. Only
    * valid for multiset stores — a keyed store's upsert must go through
    * [[mergeByKeyBucket]]. */
  def appendBuckets(s: SparkSession, dest: String, df: DataFrame, tag: String): Unit = {
    val staging = Fs.stagingOf(s"$dest/append_$tag")
    Fs.delete(staging)
    writeBuckets(df, staging, Some(onePerBucket(s, layoutOf(dest).n)))
    bucketListing(staging).foreach { case (b, staged) =>
      replaceTagged(staged, bucketDir(dest, b), s"append_${tag}_")
    }
    Fs.delete(staging)
  }

  /** Rewrite each bucket holding more than one parquet file as one file —
    * the maintenance pass that stops small files accumulating: one per
    * [[appendBuckets]] tick in a multiset store, and up to one per task
    * of a rewrite too large to go one file per bucket ([[bucketSlots]]).
    * Oversized buckets are rewritten through [[rewriteBuckets]], one
    * task per bucket, and swapped in like a merge;
    * untouched buckets are never read. Contents are byte-identical
    * (spec-asserted), so compaction can run any time between merges. */
  def compactBuckets(s: SparkSession, dest: String): Unit = {
    Fs.heal(dest)
    val oversized = bucketListing(dest).filter { case (_, dir) => Fs.listFiles(dir, ".parquet").size > 1 }
    if (oversized.nonEmpty)
      rewriteBuckets(s, dest, readDirs(s, dest, layoutOf(dest), oversized.map(_._2)),
        oversized.map(_._1), Some(onePerBucket(s, oversized.size)), dropMissing = false)
    else Fs.delete(s"$dest/_merge_staging") // a crashed pass that finished its swaps
  }

  // ---------------------------------------------------------------------
  // Versioned commit-log store (time travel). The reference's store keeps
  // only the latest row per key (`git_etl.ts:127-132`); a training-data
  // pipeline also needs "what did the table look like at version V" —
  // reproducing the exact corpus a model was trained on. Merge-on-read:
  // each commit is an immutable keyed delta dir `delta_v=N` (its publish
  // is the commit point), and a snapshot read resolves each key to its
  // highest version <= V. Version listing is directory METADATA (one fs
  // listing, never a data scan), so pruning newer versions costs nothing
  // at 100 TB; periodic [[compactVersions]] folds old deltas into a
  // materialized `base_v=N` snapshot so read fan-in stays bounded (the
  // retention horizon moves up to N).
  // ---------------------------------------------------------------------

  private def versionsOf(store: String, prefix: String): Seq[Long] =
    Fs.listDirs(store).filter(_.startsWith(prefix + "="))
      .map(_.stripPrefix(prefix + "=").toLong)

  /** Highest committed version, or None for an empty store. */
  def latestVersion(store: String): Option[Long] =
    (versionsOf(store, "delta_v") ++ versionsOf(store, "base_v"))
      .maxOption

  /** Publish `delta` as the next version; returns its number. */
  private def commitDelta(store: String, delta: DataFrame, tombstone: Boolean): Long = {
    Fs.heal(store)
    val v = latestVersion(store).map(_ + 1).getOrElse(0L)
    publish(s"$store/delta_v=$v")(delta.withColumn("_tombstone", lit(tombstone))
      .withColumn("_v", lit(v)).write.parquet)
    v
  }

  /** Append `batch` (keyed by `key`; duplicate keys within the batch are
    * collapsed arbitrarily-last) as the next version. Returns the
    * committed version number. */
  def commitVersion(s: SparkSession, store: String, batch: DataFrame,
                    key: String): Long =
    commitDelta(store, batch.dropDuplicates(key), tombstone = false)

  /** Commit a DELETE wave as the next version: a tombstone delta holding
    * only (key, _tombstone=true). Snapshot reads resolve each key to its
    * highest version as usual and then drop tombstone winners, so a delete
    * costs O(|deleted keys|) on write and nothing extra on read — never a
    * rewrite of live data (the versioned-store counterpart of
    * [[deleteByKeyBucket]]). Deleting an absent key is a harmless no-op
    * row. */
  def commitDeletes(s: SparkSession, store: String, keys: DataFrame,
                    key: String): Long =
    commitDelta(store, keys.select(col(key)).dropDuplicates(key), tombstone = true)

  /** The table as of version `v`: union the base snapshot at or below `v`
    * (if compaction produced one) with every delta in scope, then resolve
    * each key to its highest `_v`. Tolerates compaction crash leftovers
    * by construction: a delta at or below the base's version only
    * re-offers rows the base's winners already supersede, so including it
    * changes nothing (resolution is idempotent) — no repair step needed
    * before reads. Versions below the compaction horizon are gone;
    * asking for one is an error, not a silently-wrong answer.
    *
    * `onlyKeys`: restrict resolution to the given keys BEFORE the
    * per-key window — a keyed point lookup then costs O(those keys'
    * rows), never a full-store winner resolution (the 100 TB contract
    * [[changesBetween]]'s scaladoc promises; the semi-join runs below
    * the window, which is row-identical because the window partitions
    * by exactly that key). */
  def snapshotAt(s: SparkSession, store: String, v: Long, key: String,
                 onlyKeys: Option[DataFrame] = None): DataFrame =
    snapshotRawAt(s, store, v, key, onlyKeys)
      .where(!col("_tombstone")).drop("_tombstone")

  /** Winner rows at version `v` INCLUDING tombstone markers. Compaction
    * materializes THIS (not the tombstone-filtered view) into the base:
    * if a deleted key's marker were dropped from the base, a delta below
    * the base version lingering from a compaction crash would have no
    * higher-version winner to supersede it and the deleted row would
    * resurrect. Keeping the marker (O(|deleted keys|) rows) preserves the
    * "lingering deltas are harmless" invariant unconditionally.
    * Tombstone deltas carry only (key, _tombstone, _v), so the read is
    * schema-merged and payload columns of markers are null. */
  private def snapshotRawAt(s: SparkSession, store: String, v: Long,
                            key: String,
                            onlyKeys: Option[DataFrame] = None): DataFrame = {
    val baseV = versionsOf(store, "base_v").filter(_ <= v).maxOption
    val deltas = versionsOf(store, "delta_v").filter(_ <= v)
    require(baseV.nonEmpty || deltas.contains(0L),
      s"version $v predates the compaction horizon of $store")
    val paths = baseV.map(b => s"$store/base_v=$b").toSeq ++
      deltas.map(d => s"$store/delta_v=$d")
    if (paths.isEmpty) throw new IllegalArgumentException(s"empty store $store")
    val all0 = s.read.option("mergeSchema", "true").parquet(paths: _*)
    // keyed-lookup pruning: filter to the requested keys BELOW the
    // window — winners per key are unchanged (the window partitions by
    // the same key), only un-requested keys' partitions disappear
    val all = onlyKeys.fold(all0)(ks =>
      all0.join(ks.select(col(key)).distinct(), Seq(key), "left_semi"))
    val tomb = // stores written before tombstone support lack the column
      if (all.columns.contains("_tombstone"))
        coalesce(col("_tombstone"), lit(false))
      else lit(false)
    // single key-unique source (one delta, or one compacted base): every
    // row already is its key's winner — the per-key window would assign
    // _rn = 1 to every row, so skip it (both source kinds are key-unique
    // by construction: commitVersion/commitDeletes dropDuplicates(key),
    // compaction materializes resolved winners)
    if (paths.size == 1) all.withColumn("_tombstone", tomb)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(key)).orderBy(col("_v").desc)
      all.withColumn("_tombstone", tomb)
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn")
    }
  }

  /** Change feed (CDC) of the versioned store over `(vFrom, vTo]`: one row
    * per key whose winner changed in the window, classified as
    * insert / update / delete against the snapshot at `vFrom`. Cost is
    * O(rows in the window's deltas) plus one keyed lookup into the old
    * snapshot that is semi-join-pruned to touched keys — NEVER a diff of
    * two full snapshots, which is what makes the feed serveable off a
    * 100 TB store whose daily delta is ~0.1%. Notes: a re-upsert with an
    * unchanged payload still reports as `update` (delta semantics, not
    * value-diff semantics); a delete of a key absent at `vFrom` that was
    * not inserted in-window is dropped (it changed nothing); payload
    * columns of `delete` rows are null. */
  def changesBetween(s: SparkSession, store: String, vFrom: Long, vTo: Long,
                     key: String): DataFrame = {
    val ds = versionsOf(store, "delta_v").filter(d => d > vFrom && d <= vTo)
    require(ds.nonEmpty, s"no deltas in ($vFrom, $vTo] of $store")
    val all = s.read.option("mergeSchema", "true")
      .parquet(ds.map(d => s"$store/delta_v=$d"): _*)
      .withColumn("_tombstone", coalesce(col("_tombstone"), lit(false)))
    // single-delta window (the common feed cadence): each delta is
    // key-unique by the commit contract, so every row already is its
    // key's in-window winner — skip the per-key window
    val winners =
      if (ds.size == 1) all.drop("_v")
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col(key)).orderBy(col("_v").desc)
        all.withColumn("_rn", row_number().over(w))
          .where(col("_rn") === 1).drop("_rn", "_v")
      }
    // the old-snapshot lookup is PRUNED to the window's touched keys
    // below its winner window (see snapshotAt) — the scaladoc's "never
    // a diff of two full snapshots" now holds in the plan, not just in
    // the join above it
    val before = snapshotAt(s, store, vFrom, key,
      onlyKeys = Some(winners.select(col(key))))
    val existed = before
      .join(winners.select(col(key)), Seq(key), "left_semi")
      .select(col(key), lit(true).as("_existed"))
    // payload schema is STABLE across windows: the union of the store's
    // columns at vFrom and the window's — a tombstone-only window (whose
    // deltas carry no payload at all) still emits every payload column,
    // null-typed from the snapshot's schema
    val winTypes = winners.schema.map(f => f.name -> f.dataType).toMap
    val befTypes = before.schema.map(f => f.name -> f.dataType).toMap
    val payload = (winners.columns ++ before.columns).distinct
      .filter(c => c != key && c != "_tombstone" && c != "_v")
      .map(c => if (winTypes.contains(c)) col(c)
                else lit(null).cast(befTypes(c)).as(c))
    winners.join(existed, Seq(key), "left")
      .withColumn("_existed", coalesce(col("_existed"), lit(false)))
      .withColumn("change_type",
        when(col("_tombstone") && col("_existed"), lit("delete"))
          .when(col("_tombstone"), lit(null))
          .when(col("_existed"), lit("update"))
          .otherwise(lit("insert")))
      .where(col("change_type").isNotNull)
      .select((col("change_type") +: col(key) +: payload.toIndexedSeq): _*)
  }

  /** Fold every delta at or below `upTo` into a materialized base
    * snapshot `base_v=upTo`, then drop the folded deltas and any older
    * base. Reads at versions > `upTo` are unaffected (they resolve
    * base + remaining deltas); versions < `upTo` become unreadable —
    * compaction IS the retention policy. A replay swaps the base in
    * whole, and until the deletes finish a lingering delta is harmless
    * to [[snapshotAt]] (see its scaladoc), so a re-run simply finishes
    * the cleanup. */
  def compactVersions(s: SparkSession, store: String, upTo: Long,
                      key: String): Unit = {
    Fs.heal(store)
    // raw winners: tombstone markers MUST survive into the base (see
    // snapshotRawAt's scaladoc for the crash-window resurrection argument)
    publish(s"$store/base_v=$upTo")(snapshotRawAt(s, store, upTo, key).write.parquet)
    versionsOf(store, "delta_v").filter(_ <= upTo)
      .foreach(d => Fs.delete(s"$store/delta_v=$d"))
    versionsOf(store, "base_v").filter(_ < upTo)
      .foreach(b => Fs.delete(s"$store/base_v=$b"))
  }

  /** SCD2 transition over the customer dimension (see q_sink_scd2):
    * base versions effective from `init`, hash-derived change batch
    * applied at `change` — changed keys (key % 10 = 3) move segment,
    * new keys (key % 97 = 0, +1e7) insert. Exposed so both the apply
    * entry and the point-in-time join build the same dimension. */
  private[graft] def scd2Of(s: SparkSession, dir: String,
                            change: String): DataFrame = {
    // Base versions open at a sentinel low epoch (not the fixture's min
    // date): [1900-01-01, eff_to) must cover ALL history so the interval
    // partition-of-time invariant — every fact date matches exactly one
    // version — holds for any regenerated fixture, not just ones whose
    // earliest fact lands at-or-after an arbitrary base epoch.
    val base = Tables.load(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        lit(java.sql.Date.valueOf("1900-01-01")).as("eff_from"),
        lit(java.sql.Date.valueOf("9999-12-31")).as("eff_to"),
        lit(true).as("is_current"))
    val changed = base.where(col("c_custkey") % 10 === 3)
      .select(col("c_custkey"),
        concat(lit("MOVED_"), (col("c_custkey") % 5).cast("string")).as("new_seg"))
    val fresh = base.where(col("c_custkey") % 97 === 0)
      .select((col("c_custkey") + 10000000L).as("c_custkey"),
        lit("NEWSEG").as("new_seg"))
    val batch = changed.unionByName(fresh)
    // close current rows of changed keys; untouched rows pass through
    val closed = base.join(batch.select(col("c_custkey"), lit(1).as("hit")),
        Seq("c_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"), col("eff_from"),
        when(col("hit") === 1, lit(java.sql.Date.valueOf(change)))
          .otherwise(col("eff_to")).as("eff_to"),
        when(col("hit") === 1, lit(false)).otherwise(col("is_current"))
          .as("is_current"))
    // open rows: new versions of changed keys + brand-new keys
    val opened = batch.select(col("c_custkey"),
      col("new_seg").as("c_mktsegment"),
      lit(java.sql.Date.valueOf(change)).as("eff_from"),
      lit(java.sql.Date.valueOf("9999-12-31")).as("eff_to"),
      lit(true).as("is_current"))
    closed.unionByName(opened)
  }

  /** DuckDB CTE block mirroring [[scd2Of]]; yields a `scd` relation. */
  private def scd2Ctes(change: String): String = s"""
      base AS (
        SELECT c_custkey, c_mktsegment,
               DATE '1900-01-01' AS eff_from,
               DATE '9999-12-31' AS eff_to,
               TRUE AS is_current
        FROM customer),
      batch AS (
        SELECT c_custkey, 'MOVED_' || CAST(c_custkey % 5 AS VARCHAR) AS new_seg
        FROM customer WHERE c_custkey % 10 = 3
        UNION ALL
        SELECT c_custkey + 10000000, 'NEWSEG'
        FROM customer WHERE c_custkey % 97 = 0),
      closed AS (
        SELECT b.c_custkey, b.c_mktsegment, b.eff_from,
               CASE WHEN t.c_custkey IS NOT NULL
                    THEN DATE '$change' ELSE b.eff_to END AS eff_to,
               CASE WHEN t.c_custkey IS NOT NULL
                    THEN FALSE ELSE b.is_current END AS is_current
        FROM base b LEFT JOIN batch t ON b.c_custkey = t.c_custkey),
      opened AS (
        SELECT c_custkey, new_seg AS c_mktsegment,
               DATE '$change' AS eff_from,
               DATE '9999-12-31' AS eff_to,
               TRUE AS is_current
        FROM batch),
      scd AS (SELECT * FROM closed UNION ALL SELECT * FROM opened)"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The partition-scoped merge exercised with the reference's
    // overlapping-redelivery scenario (same semantics as ingest_upsert,
    // but durable and bucket-scoped instead of rewrite-the-world).
    "q_sink_partition_merge" -> { (s, dir) =>
      val dest = scratch("events_bucketed_store")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      val b1 = ev.where(col("ts") < lit("2024-01-20").cast(org.apache.spark.sql.types.TimestampType))
      val b2 = ev.where(col("ts") >= lit("2024-01-10").cast(org.apache.spark.sql.types.TimestampType))
        .withColumn("value", col("value") + 1)
      mergeByKeyBucket(s, dest, b1, "event_id", Seq("ts"))
      mergeByKeyBucket(s, dest, b2, "event_id", Seq("ts"))
      readStore(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Merge-on-read delete tier: the delete request itself writes only a
    // key sidecar (ZERO data buckets rewritten — SinksSpec asserts the
    // bucket files byte-identical), readers anti-join the sidecar, and
    // compaction folds it in via the same crash-safe swap as the CoW
    // path. The entry exposes all three visibility states in one result:
    // a raw reader pre-compaction still sees the rows (a_pre_raw), the
    // MoR reader already doesn't (b_pre_mor), and after compaction the
    // raw reader agrees (c_post_raw) — rows physically gone, sidecar
    // cleared. The two pre-compaction aggregates are materialized to a
    // phase snapshot BEFORE compactDeletes mutates the store (DataFrames
    // are lazy; executing them afterwards would read the compacted data).
    "q_sink_delete_mor" -> { (s, dir) =>
      val base = scratch("orders_mor")
      val (dest, snap) = (s"$base/store", s"$base/phases")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      mergeByKeyBucket(s, dest, orders, "o_orderkey", Seq("o_totalprice"))
      val delKeys = orders.where(col("o_custkey") % 97 === 0)
        .select(col("o_orderkey"))
      deleteByKeyMoR(s, dest, delKeys, "o_orderkey", tag = "gdpr1")
      def agg(df: DataFrame, phase: String) =
        df.agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
          .select(lit(phase).as("phase"), col("n"), col("total"))
      writeAtomic(agg(readStore(s, dest), "a_pre_raw")
        .union(agg(readWithDeletes(s, dest, "o_orderkey"), "b_pre_mor")), snap)
      compactDeletes(s, dest, "o_orderkey")
      s.read.parquet(snap)
        .unionByName(agg(readStore(s, dest), "c_post_raw"))
        .orderBy(col("phase"))
    },

    // O7: write events partitioned by event_type, read back with a
    // partition filter — the scan touches only the matching directory
    // (PartitionFilters in .explain), exactly the reference's prefix scan.
    "q_sink_partitioned_prune" -> { (s, dir) =>
      val dest = scratch("events_by_type")
      writeAtomic(Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"), col("event_type")),
        dest, partitionCols = Seq("event_type"))
      s.read.parquet(dest)
        .where(col("event_type") === "click")
        .groupBy((col("user_id") % 10).as("cohort"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("cohort"))
    },

    // Dynamic partition pruning: the filter lives on the DIM side (its
    // `cat` column doesn't exist on the fact table, so no static pushdown
    // is possible); Catalyst turns the dim's surviving join keys into a
    // runtime subquery filter on the fact's PARTITION column, so the scan
    // reads only the matching directories. This is THE mechanism that
    // makes star-schema joins survive 100 TB fact tables — without DPP
    // this plan reads every partition; with it, 2 of 5. PlanShapeSpec
    // asserts `dynamicpruning` actually appears in the scan.
    "q_sink_dpp" -> { (s, dir) =>
      val dest = scratch("events_dpp")
      writeAtomic(Tables.load(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type")),
        dest, partitionCols = Seq("event_type"))
      val dim = Tables.load(s, dir, "events").select(col("event_type")).distinct()
        .withColumn("cat", expr(
          "CASE WHEN event_type IN ('click', 'view') THEN 'web' ELSE 'other' END"))
      s.read.parquet(dest)
        .join(dim.where(col("cat") === "web"), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // Atomic overwrite: write a v1 snapshot, overwrite with v2; the read
    // must see ONLY v2 (no partial/mixed state).
    "q_sink_atomic_overwrite" -> { (s, dir) =>
      val dest = scratch("orders_snapshot")
      val orders = Tables.load(s, dir, "orders")
      writeAtomic(orders.where(col("o_orderstatus") === "F"), dest)
      writeAtomic(orders.where(col("o_orderstatus") =!= "F"), dest)
      s.read.parquet(dest)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
        .orderBy(col("o_orderstatus"))
    },

    // Multi-table ATOMIC publish: two summary tables committed as ONE
    // versioned set behind a manifest pointer — the cross-table
    // consistency writeAtomic can't give (two independent table swaps
    // have a window where readers see new A with old B; a report joining
    // them silently mixes versions). Publish writes every table's
    // v_<N> directory FIRST and swaps the one-line MANIFEST last, so
    // readers resolve the pointer and see either the complete old set or
    // the complete new set — never a mix. The entry publishes v1 and v2,
    // then simulates a CRASHED v3 (one table's data written, manifest
    // never updated): the read-through still serves the consistent v2
    // set, which is exactly what the oracle expects. Orphaned version
    // dirs are garbage, not corruption — a janitor deletes dirs above
    // the manifest pointer.
    "q_sink_multi_atomic" -> { (s, dir) =>
      val base = scratch("multi_atomic")
      val or = Tables.load(s, dir, "orders")
      def stats(src: org.apache.spark.sql.DataFrame, key: String) =
        src.groupBy(col(key).as("k"))
          .agg(count(lit(1)).as("n"), sumFix(col("o_totalprice"), 2).as("total"))
      publishSet(s, base, 1L, Map(
        "by_status" -> stats(or.where(year(col("o_orderdate")) < 1997), "o_orderstatus"),
        "by_prio" -> stats(or.where(year(col("o_orderdate")) < 1997), "o_orderpriority")))
      publishSet(s, base, 2L, Map(
        "by_status" -> stats(or, "o_orderstatus"),
        "by_prio" -> stats(or, "o_orderpriority")))
      // crashed v3: one table written, manifest never swapped
      stats(or.where(col("o_totalprice") > 200000), "o_orderstatus")
        .write.mode("overwrite").parquet(s"$base/tables/by_status/v_3")
      val v = manifestVersion(base)
      readSet(s, base, "by_status").selectExpr("'by_status' AS tbl", "k", "n", "total")
        .unionByName(readSet(s, base, "by_prio")
          .selectExpr("'by_prio' AS tbl", "k", "n", "total"))
        .withColumn("v", lit(v))
        .orderBy(col("tbl"), col("k"))
    },

    // O11: write, truncate, re-write a subset; result reflects only the
    // post-truncate state.
    "q_sink_truncate" -> { (s, dir) =>
      val dest = scratch("customer_store")
      val cust = Tables.load(s, dir, "customer")
      writeAtomic(cust, dest)
      truncate(dest)
      writeAtomic(cust.where(col("c_mktsegment").isin("BUILDING", "MACHINERY")), dest)
      s.read.parquet(dest)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sumFix(col("c_acctbal"), 2).as("bal"))
        .orderBy(col("c_mktsegment"))
    },

    // O8+O10 durable: a real streaming query whose sink is a foreachBatch
    // keyed bucket merge (the batch's buckets read ∪ batch → dedup by key
    // → those buckets swapped in), with a checkpoint dir. The scale path
    // the memory sink can't offer: state lives in the store, not the
    // driver, and a tick rewrites only the buckets it touches.
    "q_sink_foreachbatch_upsert" -> { (s, dir) =>
      val base = scratch("events_merged")
      val (dest, ckpt) = (s"$base/store", s"$base/ckpt")
      val stream = graft.streaming.StreamOps.eventsStream(s, dir)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      Streams.drain(stream, ckpt) { (batch, _) =>
        mergeByKeyBucket(s, dest, batch, "event_id", Seq("ts", "value"))
      }
      readStore(s, dest)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sumFix(col("value"), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },

    // O13: observe() metrics — the engine's row-count observability
    // (reference logs batch cardinality, git_etl.ts:67-71). Metrics are
    // collected ON the executors during the pass, surfaced post-action;
    // O(1) driver data, no extra scan.
    "q_sink_observe_metrics" -> { (s, dir) =>
      val obs = org.apache.spark.sql.Observation("etl_metrics")
      val observed = Tables.load(s, dir, "events")
        .observe(obs,
          count(lit(1)).as("n_rows"),
          min(col("ts")).as("min_ts"),
          max(col("ts")).as("max_ts"),
          // observe() forbids DISTINCT aggregates; exact scaled-long sum
          sumFix(col("value"), 2).as("sum_value"))
      observed.write.format("noop").mode("overwrite").save()
      val m = obs.get // collected on executors during the pass; O(1) here
      val row = org.apache.spark.sql.Row(
        m("n_rows"), m("min_ts"), m("max_ts"), m("sum_value"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n_rows", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("min_ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("max_ts", org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("sum_value", org.apache.spark.sql.types.DoubleType)))
      s.createDataFrame(java.util.Arrays.asList(row), schema)
    },

    // Z-order clustered layout: interleave the bits of two join/filter
    // dimensions into one clustering key, range-partition + sort the
    // write on it, and the stored files become locality-preserving in
    // BOTH dimensions at once — the data-layout optimization that makes
    // min/max (or partition) pruning work for 2-D predicates at 100 TB,
    // where clustering by either single key leaves the other unprunable.
    // The result audits the property the layout promises: each z-range
    // bucket spans a narrow window of orderkey AND partkey (sum of spans
    // << the full domain), all in exact integer arithmetic the oracle
    // reproduces.
    "q_sink_zorder" -> { (s, dir) =>
      val dest = scratch("lineitem_zorder")
      val zbits = (0 until 6)
        .map(i => s"(((bx >> $i) & 1) << ${2 * i + 1}) + (((by >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      val clustered = Tables.load(s, dir, "lineitem")
        .selectExpr("l_orderkey", "l_partkey", "l_quantity",
          "least(l_orderkey DIV 256, 63) AS bx", "least(l_partkey DIV 64, 63) AS by")
        .selectExpr("l_orderkey", "l_partkey", "l_quantity", s"$zbits AS z")
      clustered.repartitionByRange(8, col("z"))
        .sortWithinPartitions(col("z"))
        .write.parquet(dest)
      s.read.parquet(dest)
        .groupBy(expr("CAST(z DIV 512 AS INT)").as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("ok_min"), max(col("l_orderkey")).as("ok_max"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"))
        .orderBy(col("zbucket"))
    },

    // Time travel: three commits (full load, then two keyed update
    // waves), compaction folding v0+v1 into a base snapshot, then reads
    // at v1 (served by the base alone) and v2 (base + one delta) — the
    // "reproduce the corpus a model was trained on" read. Both snapshots
    // are aggregated with a literal `version` tag so one result exercises
    // both read paths; the oracle replays the update waves relationally.
    "q_sink_time_travel" -> { (s, dir) =>
      val store = scratch("orders_versioned")
      val orders = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, store, orders, "o_orderkey")                     // v0
      commitVersion(s, store, orders.where(col("o_orderkey") % 3 === 0) // v1
        .withColumn("val", col("val") + 1000000L), "o_orderkey")
      commitVersion(s, store, orders.where(col("o_orderkey") % 5 === 0) // v2
        .withColumn("val", lit(-1L)), "o_orderkey")
      compactVersions(s, store, upTo = 1L, key = "o_orderkey")
      def agg(v: Long) = snapshotAt(s, store, v, "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(col("val")).as("sum_val"))
        .withColumn("version", lit(v).cast("int"))
      agg(1L).unionByName(agg(2L))
        .orderBy(col("version"), col("o_orderstatus"))
    },

    // CDC over the versioned store: v0 full load, v1 an update wave (%3,
    // value bump) plus an insert wave (%11, shifted keys), v2 a tombstone
    // delete wave (%7). The feed over (v0, v2] must classify every touched
    // key — including %21 keys whose in-window update is superseded by the
    // delete — and costs only the window's deltas + a pruned lookup at v0.
    // SCD Type-2 dimension maintenance: apply a change batch to a
    // history-keeping dimension — current rows for changed keys CLOSE
    // (eff_to = change date, is_current = false), the new versions and
    // brand-new keys INSERT open rows. The whole transition is ONE
    // left join on the key (hash, co-partitionable/bucketable at scale)
    // plus a union — no window over the dimension, no full-history
    // rewrite beyond the required row updates; at 100 TB the store
    // would be key-bucketed so the join is exchange-free. Change batch
    // is hash-derived from the dimension itself (deterministic, no
    // fixtures): every key % 10 = 3 moves segment, every key % 97 = 0
    // spawns a new key. Result persists via the atomic staged swap and
    // reads back — the durable dimension a downstream join would see.
    "q_sink_scd2" -> { (s, dir) =>
      val store = scratch("customer_scd2")
      writeAtomic(scd2Of(s, dir, "2024-06-01"), store)
      s.read.parquet(store).orderBy(col("c_custkey"), col("eff_from"))
    },

    // Point-in-time (as-of-date) join over the SCD2 dimension — the
    // query SCD2 exists FOR: each order joins the dimension VERSION
    // valid at its order date ([eff_from, eff_to) intervals partition
    // time per key, so every fact matches exactly one version —
    // spec-asserted). The join is a key equi-join plus an interval
    // residual: a hash join at any scale (bucketable on the key), never
    // a range/theta join. Dimension epoch is parameterized to straddle
    // the order-date range, so pre-change orders resolve historical
    // segments and post-change orders the moved ones.
    "q_sink_scd2_pit" -> { (s, dir) =>
      val dim = scd2Of(s, dir, "1998-01-01")
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("odate"))
      o.join(dim, o("o_custkey") === dim("c_custkey") &&
          col("odate") >= col("eff_from") && col("odate") < col("eff_to"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_keys"),
          min(col("odate")).as("first_order"),
          max(col("odate")).as("last_order"))
        .orderBy(col("c_mktsegment"))
    },

    // Dead-letter quarantine routing (the poison-pill stage every real
    // ingest needs): payloads that fail JSON validation route to a
    // quarantine store, clean rows to the main store — ONE scan, one
    // disposition projection, two filtered atomic writes; no row is
    // dropped silently and the quarantine store preserves the original
    // broken payload for replay after a parser fix. Corruption is
    // hash-derived (every 13th event's payload truncated), so both
    // engines see the same bad set; disposition = from_json returning
    // NULL (Spark) ≡ NOT json_valid (DuckDB) on this corpus. Output is
    // the reconciliation report: per-type clean/quarantined counts and
    // the clean-side payload sum — counts that must add up to the
    // source, spec-asserted.
    "q_sink_quarantine" -> { (s, dir) =>
      val base = scratch("quarantine")
      val (clean, dlq) = (s"$base/clean", s"$base/dlq")
      // the canonical Spark dead-letter pattern: PERMISSIVE parse with a
      // corrupt-record column — malformed payloads land verbatim in
      // `_bad` instead of silently nulling out (from_json never returns
      // a null struct in PERMISSIVE mode, so `parsed IS NULL` cannot
      // detect corruption)
      val parseSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("_bad",
          org.apache.spark.sql.types.StringType)))
      val ev = Tables.load(s, dir, "events")
        .selectExpr("event_id", "event_type",
          "IF(event_id % 13 = 0, substring(props, 1, length(props) - 3), props) AS props")
        .withColumn("parsed", from_json(col("props"), parseSchema,
          Map("columnNameOfCorruptRecord" -> "_bad")))
        .withColumn("bad", col("parsed._bad").isNotNull)
        .localCheckpoint() // parse ONCE; both filtered writes read the parsed set
      writeAtomic(ev.where(!col("bad"))
        .select(col("event_id"), col("event_type"),
          col("parsed.k").as("k")), clean)
      writeAtomic(ev.where(col("bad"))
        .select(col("event_id"), col("event_type"), col("props")), dlq)
      val c = s.read.parquet(clean).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_clean"), sum(col("k")).as("sum_k"))
      val q = s.read.parquet(dlq).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_quarantined"))
      c.join(q, Seq("event_type"), "full_outer")
        .select(col("event_type"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"),
          coalesce(col("n_quarantined"), lit(0L)).as("n_quarantined"),
          coalesce(col("sum_k"), lit(0L)).as("sum_k"))
        .orderBy(col("event_type"))
    },

    "q_sink_changefeed" -> { (s, dir) =>
      val store = scratch("orders_cdc")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, store, base, "o_orderkey")                         // v0
      val upd = base.where(col("o_orderkey") % 3 === 0)
        .withColumn("val", col("val") + 1000000L)
      val ins = base.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      commitVersion(s, store, upd.unionByName(ins), "o_orderkey")         // v1
      commitDeletes(s, store,
        base.where(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
        "o_orderkey")                                                     // v2
      changesBetween(s, store, vFrom = 0L, vTo = 2L, key = "o_orderkey")
        .orderBy(col("change_type"), col("o_orderkey"))
    },

    // CDC APPLY — the consumer half of q_sink_changefeed's producer: a
    // downstream keyed replica is maintained purely from the change feed,
    // never by re-reading the source of truth. Seed from the v0 snapshot,
    // then fold each feed window: insert/update rows upsert
    // ([[mergeByKeyBucket]], touched buckets only), delete rows purge
    // ([[deleteByKeyBucket]]) — per window the replica pays O(changed
    // keys + touched buckets), the contract that holds when the source
    // is 100 TB and a window touches 0.1% of keys. The oracle states the
    // source's FINAL state declaratively: apply ≡ recompute.
    "q_sink_cdc_apply" -> { (s, dir) =>
      val scr = scratch("cdc_apply")
      val (src, rep) = (s"$scr/src", s"$scr/replica")
      val base = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_custkey").as("val"))
      commitVersion(s, src, base, "o_orderkey")                         // v0
      val upd = base.where(col("o_orderkey") % 3 === 0)
        .withColumn("val", col("val") + 1000000L)
      val ins = base.where(col("o_orderkey") % 11 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
      commitVersion(s, src, upd.unionByName(ins), "o_orderkey")         // v1
      commitDeletes(s, src,
        base.where(col("o_orderkey") % 7 === 0).select(col("o_orderkey")),
        "o_orderkey")                                                   // v2
      // Overlap the three independent jobs (guide §2.6): the replica
      // seed merge and the two feed-window materializations share no
      // outputs — the feeds only read the committed src deltas and land
      // in executor blocks, the seed writes the replica store. The
      // APPLY of each window stays strictly sequential after its
      // predecessor (every apply mutates the replica).
      val feeds = new Array[DataFrame](2)
      graft.util.Jobs.inPool(3)(Seq(
        () => mergeByKeyBucket(s, rep,
          snapshotAt(s, src, 0L, "o_orderkey")
            .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
            .withColumn("_ord", lit(0L)),
          "o_orderkey", Seq("_ord")),
        () => feeds(0) = changesBetween(s, src, 0L, 1L, "o_orderkey").localCheckpoint(),
        () => feeds(1) = changesBetween(s, src, 1L, 2L, "o_orderkey").localCheckpoint()))
      Seq((feeds(0), 1L), (feeds(1), 2L)).foreach { case (ch, t) =>
        val ups = ch.where(col("change_type").isin("insert", "update"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
          .withColumn("_ord", lit(t))
        if (!ups.isEmpty) mergeByKeyBucket(s, rep, ups, "o_orderkey", Seq("_ord"))
        deleteByKeyBucket(s, rep,
          ch.where(col("change_type") === "delete").select(col("o_orderkey")),
          "o_orderkey")
      }
      readStore(s, rep)
        .select(col("o_orderkey"), col("o_orderstatus"), col("val"))
        .orderBy(col("o_orderkey"))
    },

    // Incrementally-maintained DENORMALIZED JOIN VIEW (orders ⨝ customer)
    // — the materialization every serving layer wants and a naive
    // pipeline rebuilds nightly. Both maintenance directions stay pruned:
    // fact appends join ONLY the batch against the broadcast current dim
    // (O(batch) upsert); dim updates backfill ONLY the affected
    // customers' rows — the view is KEYED by o_orderkey but BUCKETED by
    // o_custkey (mergeByKeyBucket's bucketCol contract: the FK is
    // immutable per order), so the backfill reads just the changed keys'
    // buckets, never the view. Oracle: the one-shot join against the
    // updated dim (maintenance ≡ recompute).
    "q_sink_join_mv" -> { (s, dir) =>
      val store = scratch("join_mv")
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val ord = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate"))
      def mvRows(o: DataFrame) =
        o.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("c_name"), col("c_mktsegment"))
      mergeByKeyBucket(s, store,                       // tick 0: seed
        mvRows(ord.where(year(col("o_orderdate")) < 1996))
          .withColumn("_ord", lit(0L)),
        "o_orderkey", Seq("_ord"), bucketCol = "o_custkey")
      mergeByKeyBucket(s, store,                       // tick 1: fact append
        mvRows(ord.where(year(col("o_orderdate")) >= 1996))
          .withColumn("_ord", lit(1L)),
        "o_orderkey", Seq("_ord"), bucketCol = "o_custkey")
      // tick 2: dim update — backfill reads ONLY the changed keys' buckets
      val dimChange = cust.where(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("CHANGED"))
      val touched = layoutOf(store).bucketsOf(dimChange, col("c_custkey"))
      val affected = readBuckets(s, store, touched)
      val backfill = affected
        .join(broadcast(dimChange.select(col("c_custkey").as("o_custkey"),
          col("c_name").as("new_name"), col("c_mktsegment").as("new_seg"))),
          "o_custkey")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("new_name").as("c_name"), col("new_seg").as("c_mktsegment"))
        .withColumn("_ord", lit(2L))
      mergeByKeyBucket(s, store, backfill, "o_orderkey", Seq("_ord"),
        bucketCol = "o_custkey")
      readStore(s, store)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("c_name"), col("c_mktsegment"))
        .orderBy(col("o_orderkey"))
    },

    // Incrementally-maintained materialized aggregate: the streaming
    // groupBy holds running (n, cents) per (event_type, day) in the state
    // store; update-mode emits ONLY keys whose aggregate changed each
    // tick, and the keyed bucket merge upserts those rows — tick cost is
    // O(changed keys + touched buckets), never O(history), the
    // materialized-view generalization of the reference's persisted
    // watermark (git_etl.ts:141-153, which recomputes its one aggregate
    // from the full store every tick). Replays are safe: counts only
    // grow, so max-n upsert resolution is idempotent under re-delivery.
    // Oracle = the one-shot GROUP BY (maintenance ≡ recompute).
    "q_sink_incremental_agg" -> { (s, dir) =>
      val base = scratch("events_mv")
      val (src, store, ckpt) = (s"$base/src", s"$base/store", s"$base/ckpt")
      val ev = Tables.load(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"),
          graft.util.Exact.scaled(col("value"), 2).as("cents"))
      // 3 arrival ticks — the suite-wide incremental convention; the MV
      // semantics need multi-tick maintenance, not a specific tick count,
      // and each tick costs a full stream trigger + bucket merge
      ev.repartitionByRange(3, col("day")).write.parquet(src)
      val agg = Streams.ticks(s, src, ev.schema)
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        .withColumn("mv_key", xxhash64(col("event_type"), col("day")))
      // state partitioning sized from the stream's input volume, not
      // the session's core count (graft.util.Streams scaladoc: pinned
      // at first batch, AQE-exempt, fixed per-partition per-tick cost —
      // this entry was the r15 bench's worst anti-scaler at 0.37)
      Streams.withShufflePartitions(s, Streams.statePartitionsFor(Fs.sizeBytes(src))) {
        Streams.drain(agg, ckpt)((b, _) => mergeByKeyBucket(s, store, b, "mv_key", Seq("n")))
      }
      readStore(s, store)
        .select(col("event_type"), col("day"), col("n"),
          (col("cents") / lit(100.0)).as("sum_value"))
        .orderBy(col("event_type"), col("day"))
    })

  def oracleSql: Map[String, String] = Map(
    // identical semantics to ingest_upsert's scenario, now durable:
    // batch2 re-ships everything >= 01-10 with bumped values and wins
    "q_sink_partition_merge" -> s"""
      SELECT event_type, count(*) AS n,
             ${sqlSumFix("CASE WHEN ts >= TIMESTAMP '2024-01-10' THEN value + 1 ELSE value END", 2)} AS sum_value
      FROM events WHERE ts < TIMESTAMP '2024-01-20' OR ts >= TIMESTAMP '2024-01-10'
      GROUP BY event_type ORDER BY event_type""",
    // three visibility states of the MoR delete: raw-pre sees everything,
    // MoR-pre and raw-post both see the kept set
    "q_sink_delete_mor" -> s"""
      WITH mor_kept AS (
        SELECT * FROM orders WHERE o_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_custkey % 97 = 0))
      SELECT * FROM (
        SELECT 'a_pre_raw' AS phase, count(*) AS n,
               ${sqlSumFix("o_totalprice", 2)} AS total FROM orders
        UNION ALL
        SELECT 'b_pre_mor', count(*), ${sqlSumFix("o_totalprice", 2)} FROM mor_kept
        UNION ALL
        SELECT 'c_post_raw', count(*), ${sqlSumFix("o_totalprice", 2)} FROM mor_kept)
      ORDER BY phase""",

    "q_sink_partitioned_prune" -> s"""
      SELECT user_id % 10 AS cohort, count(*) AS n,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events WHERE event_type = 'click'
      GROUP BY cohort ORDER BY cohort""",

    "q_sink_dpp" -> s"""
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY event_type ORDER BY event_type""",

    // the consistent v2 set: both tables over ALL orders, version 2 —
    // the crashed partial v3 must be invisible
    "q_sink_multi_atomic" -> s"""
      SELECT * FROM (
        SELECT 'by_prio' AS tbl, o_orderpriority AS k, count(*) AS n,
               ${sqlSumFix("o_totalprice", 2)} AS total, CAST(2 AS BIGINT) AS v
        FROM orders GROUP BY o_orderpriority
        UNION ALL
        SELECT 'by_status', o_orderstatus, count(*),
               ${sqlSumFix("o_totalprice", 2)}, CAST(2 AS BIGINT)
        FROM orders GROUP BY o_orderstatus)
      ORDER BY tbl, k""",

    "q_sink_atomic_overwrite" -> s"""
      SELECT o_orderstatus, count(*) AS n, ${sqlSumFix("o_totalprice", 2)} AS total
      FROM orders WHERE o_orderstatus <> 'F'
      GROUP BY o_orderstatus ORDER BY o_orderstatus""",

    "q_sink_truncate" -> s"""
      SELECT c_mktsegment, count(*) AS n, ${sqlSumFix("c_acctbal", 2)} AS bal
      FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_sink_foreachbatch_upsert" -> s"""
      WITH keyed AS (
        SELECT event_id, ts, event_type, value,
               row_number() OVER (PARTITION BY event_id
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM events)
      SELECT event_type, count(*) AS n, ${sqlSumFix("value", 2)} AS sum_value
      FROM keyed WHERE rn = 1
      GROUP BY event_type ORDER BY event_type""",

    "q_sink_observe_metrics" -> s"""
      SELECT count(*) AS n_rows, min(ts) AS min_ts, max(ts) AS max_ts,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events""",

    "q_sink_zorder" -> {
      val zbits = (0 until 6)
        .map(i => s"(((bx >> $i) & 1) << ${2 * i + 1}) + (((by >> $i) & 1) << ${2 * i})")
        .mkString(" + ")
      s"""
      WITH b AS (
        SELECT l_orderkey, l_partkey,
               least(l_orderkey // 256, 63) AS bx,
               least(l_partkey // 64, 63) AS by
        FROM lineitem),
      zt AS (SELECT l_orderkey, l_partkey, $zbits AS z FROM b)
      SELECT CAST(z // 512 AS INT) AS zbucket, count(*) AS n,
             min(l_orderkey) AS ok_min, max(l_orderkey) AS ok_max,
             min(l_partkey) AS pk_min, max(l_partkey) AS pk_max
      FROM zt GROUP BY 1 ORDER BY zbucket"""
    },

    // v1 = base load with the %3 update wave applied; v2 additionally
    // applies the %5 wave (which wins over %3 on keys divisible by 15 —
    // higher version per key)
    "q_sink_time_travel" -> """
      WITH v1 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS val
        FROM orders),
      v2 AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN -1
                    WHEN o_orderkey % 3 = 0 THEN o_custkey + 1000000
                    ELSE o_custkey END AS val
        FROM orders)
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(val) AS BIGINT) AS sum_val, 1 AS version
      FROM v1 GROUP BY o_orderstatus
      UNION ALL
      SELECT o_orderstatus, count(*) AS n,
             CAST(sum(val) AS BIGINT) AS sum_val, 2 AS version
      FROM v2 GROUP BY o_orderstatus
      ORDER BY version, o_orderstatus""",

    // inserts: the shifted %11 keys (never in the v0 keyspace); updates:
    // %3 keys except those the later %7 delete supersedes; deletes: every
    // %7 key (all existed at v0), payload null
    // mirror of q_sink_scd2: identical change derivation + transition
    "q_sink_scd2" -> s"""
      WITH ${scd2Ctes("2024-06-01")}
      SELECT * FROM scd ORDER BY c_custkey, eff_from""",

    // mirror of q_sink_scd2_pit: same dimension CTEs at the order-era
    // epoch, key equi-join + interval residual, per-segment rollup
    "q_sink_scd2_pit" -> s"""
      WITH ${scd2Ctes("1998-01-01")},
      o AS (
        SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS odate
        FROM orders)
      SELECT c_mktsegment, count(*) AS n_orders,
             count(DISTINCT o_custkey) AS n_keys,
             min(odate) AS first_order, max(odate) AS last_order
      FROM o JOIN scd ON o.o_custkey = scd.c_custkey
        AND o.odate >= scd.eff_from AND o.odate < scd.eff_to
      GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    // mirror of q_sink_quarantine: same hash-derived corruption; NOT
    // json_valid() ≡ Spark's from_json -> NULL on this corpus
    "q_sink_quarantine" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               CASE WHEN event_id % 13 = 0
                    THEN substr(props, 1, length(props) - 3)
                    ELSE props END AS props
        FROM events),
      d AS (
        SELECT event_type,
               NOT json_valid(props) AS bad,
               CASE WHEN json_valid(props)
                    THEN CAST(props->>'k' AS INT) END AS k
        FROM ev)
      SELECT event_type,
             CAST(sum(CASE WHEN bad THEN 0 ELSE 1 END) AS BIGINT) AS n_clean,
             CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
             CAST(coalesce(sum(CASE WHEN NOT bad THEN k END), 0) AS BIGINT) AS sum_k
      FROM d GROUP BY event_type ORDER BY event_type""",

    "q_sink_changefeed" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus, o_custkey AS val FROM orders)
      SELECT 'insert' AS change_type, k + 10000000 AS o_orderkey,
             o_orderstatus, CAST(val AS BIGINT) AS val
      FROM base WHERE k % 11 = 0
      UNION ALL
      SELECT 'update', k, o_orderstatus, CAST(val + 1000000 AS BIGINT)
      FROM base WHERE k % 3 = 0 AND k % 7 <> 0
      UNION ALL
      SELECT 'delete', k, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
      FROM base WHERE k % 7 = 0
      ORDER BY change_type, o_orderkey""",

    "q_sink_incremental_agg" -> s"""
      SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n,
             ${sqlSumFix("value", 2)} AS sum_value
      FROM events GROUP BY event_type, day
      ORDER BY event_type, day""",

    // maintenance ≡ recompute: the one-shot join against the updated dim
    "q_sink_join_mv" -> """
      SELECT o_orderkey, o_custkey, o_totalprice, c_name,
             CASE WHEN c_custkey % 10 = 0 THEN 'CHANGED'
                  ELSE c_mktsegment END AS c_mktsegment
      FROM orders JOIN customer ON o_custkey = c_custkey
      ORDER BY o_orderkey""",

    // final state after applying the whole feed = source of truth with
    // every change folded in (apply ≡ recompute)
    "q_sink_cdc_apply" -> """
      WITH base AS (
        SELECT o_orderkey AS k, o_orderstatus, o_custkey AS val FROM orders)
      SELECT k AS o_orderkey, o_orderstatus,
             CAST(CASE WHEN k % 3 = 0 THEN val + 1000000 ELSE val END
                  AS BIGINT) AS val
      FROM base WHERE k % 7 <> 0
      UNION ALL
      SELECT k + 10000000, o_orderstatus, CAST(val AS BIGINT)
      FROM base WHERE k % 11 = 0
      ORDER BY o_orderkey""")
}
