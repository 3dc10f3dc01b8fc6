package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Lake-side sources/sinks (SURVEY.md §2 A13's file form).
  *
  * The reference ingests gzip'd JSON-lines batches from object storage
  * and lands them in a queryable store (arxiv_etl.py:128-146). The
  * Spark-native form: `spark.read.schema(...).json(dir)` with PERMISSIVE
  * corrupt-record capture for ingest, and a partitioned parquet sink
  * for the landed table — the layout that gives every downstream query
  * partition pruning for free.
  */
object Lake {

  val CorruptCol = "_corrupt_record"

  /** Run `build` against a scratch on-disk index directory, eagerly
    * materialize its result (`localCheckpoint` — the returned frame
    * reads Spark blocks, not the scratch files), then recursively
    * delete the directory. `File.deleteOnExit` cannot remove
    * non-empty directories, so without this every registry run leaked
    * a full index copy on disk. Deletion goes through the Hadoop
    * FileSystem API — the same code path works wherever a deployment
    * scratches its indexes. */
  def withScratchIndex(spark: SparkSession, prefix: String)
                      (build: String => DataFrame): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix).toString
    try build(tmp).localCheckpoint()
    finally {
      val p = new org.apache.hadoop.fs.Path(tmp)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Write a DataFrame as gzip'd JSON-lines (the reference's batch
    * format). One file per partition — at scale, files-per-batch is
    * the upstream parallelism, exactly like the reference's per-batch
    * S3 objects. */
  def writeJsonlGz(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("compression", "gzip")
      .json(path)

  /** Schema-enforced jsonl(.gz) read with corrupt-line quarantine:
    * well-formed rows come back typed, malformed lines land whole in
    * `_corrupt_record` instead of failing the job — the PERMISSIVE
    * ingest posture any crawl pipeline needs (a single bad line in
    * 100 TB must not kill the batch). */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema.add(CorruptCol, "string"))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .json(path)

  /** Split an ingest frame into (clean rows, quarantined lines).
    * The frame is cached first: Spark disallows queries that reference
    * ONLY the corrupt-record column of a raw file scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and an
    * ingest batch is read once then split both ways anyway. */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = df.cache()
    (cached.filter(col(CorruptCol).isNull).drop(CorruptCol),
      cached.filter(col(CorruptCol).isNotNull).select(col(CorruptCol)))
  }

  /** Land a table date-partitioned (hive layout `year=/month=`): every
    * downstream query filtering on the derived date columns prunes
    * whole directories at planning time — the 100 TB default layout.
    * `maxRecordsPerFile` caps file sizes so a skewed month still
    * splits. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Read a partitioned table back; filters on partition columns become
    * `PartitionFilters` (directory pruning), filters on data columns
    * become `PushedFilters` (row-group pruning). */
  def readPartitioned(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** ORC sink — the other columnar lake format Spark reads/writes
    * natively (a reference deployment landing into a Hive/Trino
    * estate would use it). Same layout posture as the parquet sink:
    * hive-partitioned directories for planning-time pruning, capped
    * file sizes so a skewed partition still splits, and data-column
    * predicates push into ORC stripe/row-group indexes on read. */
  def writeOrc(df: DataFrame, path: String,
               partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", 5000000)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .orc(path)
  }

  /** Read an ORC table back (partition pruning + predicate pushdown,
    * same contract as [[readPartitioned]]). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Hive-partition directories under `dataPath` (named `prefix=N`)
    * holding more than `maxFiles` parquet files — the fragmentation
    * measure every append-accumulating layout shares (BM25 buckets,
    * IVF cells). O(partitions) driver metadata, exactly what a
    * lakehouse table format keeps in its manifest; listed through the
    * Hadoop FileSystem API so the maintenance loop works on whatever
    * filesystem the index lives on. */
  def fragmentedPartitions(spark: SparkSession, dataPath: String,
                           prefix: String, maxFiles: Int): Set[Int] = {
    val p = new org.apache.hadoop.fs.Path(dataPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$prefix="))
      .filter(d => fs.listStatus(d.getPath)
        .count(_.getPath.getName.endsWith(".parquet")) > maxFiles)
      .map(_.getPath.getName.stripPrefix(s"$prefix=").toInt).toSet
  }

  /** EXECUTE lake-table compaction — the physical half of F14's
    * `compaction_plan` bin packing: every hive partition directory
    * (or the table root, for an unpartitioned table) whose parquet
    * file count exceeds `maxFilesPerPartition` is rewritten into
    * ⌈bytes / targetBytes⌉ files; clean partitions keep their files
    * byte-for-byte. The decision is pure directory metadata
    * (O(partitions + files) driver listing, what a table format's
    * manifest holds); only dirty partitions pay a read+rewrite, so
    * cost ∝ fragmentation, not table size — the OPTIMIZE shape.
    * Runs under the writer lease and refuses while a read pin is
    * live ([[IndexLayout.maintain]] — rewriting files a pinned scan
    * may hold open is the same hazard as an index vacuum). The rewrite
    * materializes each dirty partition eagerly (localCheckpoint)
    * before overwriting the very files it read.
    * Scope: SINGLE-LEVEL hive layouts (the [[writePartitioned]]
    * shape) — a multi-level `year=/month=` tree's leaves sit one
    * directory deeper than this listing walks, so such a table
    * compacts per leaf by calling this on each first-level dir. */
  def compactTable(spark: SparkSession, path: String,
                   maxFilesPerPartition: Int = 1,
                   targetBytes: Long = 128L * 1024 * 1024): Unit =
    IndexLayout.maintain(spark, path, "lakeCompact") {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val partDirs = fs.listStatus(root).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      val groups = if (partDirs.nonEmpty) partDirs.map(_.getPath) else Seq(root)
      groups.foreach { dir =>
        val files = fs.listStatus(dir)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files.length > maxFilesPerPartition) {
          val bytes = files.map(_.getLen).sum
          val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val rows = spark.read.parquet(dir.toString).localCheckpoint()
          // replace only the DATA files — a dir-level overwrite would
          // also wipe the lock/pin control files living at the table
          // root of an unpartitioned table
          files.foreach(f => fs.delete(f.getPath, false))
          rows.repartition(nOut).write.mode(SaveMode.Append)
            .parquet(dir.toString)
        }
      }
    }

  private val VersionsDir = "_versions"
  private val VersionPrefix = "v="

  /** Committed versions of a version-swapped index at `path`,
    * ascending. A version is committed iff its marker file exists
    * under `_versions/` — the marker create is the atomic publish
    * ([[publishVersion]]), so a half-written version directory is
    * simply absent from this list. */
  def committedVersions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/$VersionsDir")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq
      .flatMap(s => scala.util.Try(s.getPath.getName.toLong).toOption)
      .sorted
  }

  /** The data directory of the LATEST committed version — what every
    * reader resolves once at the start of an operation and then reads
    * exclusively, so a concurrent [[publishVersion]] swap is invisible
    * to an in-flight read. None if nothing ever committed. */
  def currentVersionDir(spark: SparkSession, path: String): Option[String] =
    committedVersions(spark, path).lastOption.map(n => s"$path/$VersionPrefix$n")

  /** ATOMIC VERSION SWAP for indexes whose maintenance REBUILDS the
    * whole layout (the impact-ordered BM25 index: precomputed impacts
    * mean a refresh rewrites everything anyway). Writes the new state
    * into a fresh `v=N` directory, then publishes it with a single
    * atomic marker-file create — a reader that resolved the previous
    * version keeps reading it untouched, a reader that resolves after
    * the marker sees only the complete new state, and a crash before
    * the marker leaves an uncommitted directory that no reader ever
    * resolves (the torn-rebuild invisibility the raw layout gets from
    * its stats-log commit rows). Old versions are retained up to
    * `keep` deep as the in-flight readers' grace period, then GC'd
    * along with any torn uncommitted leftovers. Contrast
    * [[withWriterLock]]: the lease serializes rewriters against each
    * other; the version swap is what protects the READERS — the
    * incremental layouts (raw BM25, IVF) rewrite ∝ churn in place
    * instead, which is their whole point, so their readers pin
    * commit-log snapshots rather than versions. */
  def publishVersion[T](spark: SparkSession, path: String, keep: Int = 2)
                       (build: String => T): T = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = committedVersions(spark, path)
    // next = 1 + max over committed AND uncommitted dirs, so a torn
    // rebuild's leftover number is never reused (its stale files could
    // otherwise shadow the new write)
    val present =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).toSeq.filter(_.isDirectory)
        .flatMap(s => scala.util.Try(
          s.getPath.getName.stripPrefix(VersionPrefix).toLong).toOption
          .filter(_ => s.getPath.getName.startsWith(VersionPrefix)))
    val n = (committed ++ present).foldLeft(0L)(math.max) + 1
    val out = build(s"$path/$VersionPrefix$n")
    // the atomic publish: create-no-overwrite of the marker file
    val marker = new org.apache.hadoop.fs.Path(s"$path/$VersionsDir/$n")
    fs.mkdirs(marker.getParent)
    fs.create(marker, false).close()
    // GC: committed versions below the top `keep` — EXCEPT versions a
    // live read pin still references ([[pinCurrentVersion]]): the
    // retention contract extends to the version-swap layout, so a
    // pinned probe session outlives any number of swaps. A live pin
    // with NO version recorded (a plain [[pinSnapshot]]) pins every
    // committed version conservatively — the reader never said which
    // one it resolved. Torn (uncommitted) leftovers are never
    // pinnable and always reclaim.
    val pins = readLivePins(spark, path)
    val pinned: Set[Long] =
      if (pins.exists(_.version.isEmpty)) committed.toSet
      else pins.flatMap(_.version).toSet
    val live = (committed :+ n).sorted.takeRight(keep).toSet ++
      (pinned & committed.toSet)
    (committed ++ present).distinct.filterNot(live).foreach { v =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$VersionPrefix$v"), true)
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$VersionsDir/$v"), false)
    }
    out
  }

  /** Thrown when a physical-reclaim maintenance step (vacuum, compact,
    * retrain) finds a live reader pin on the index: reclaiming now
    * could delete rows a pinned snapshot still references. The caller
    * retries after the pins release or expire. */
  final class PinnedSnapshotException(msg: String)
    extends RuntimeException(msg)

  private val PinsDir = "_pins"

  /** Take a READ PIN on an index: while the pin is live, the
    * physically-reclaiming maintenance steps (vacuum, compact,
    * retrain — anything that deletes or rewrites rows in place)
    * refuse to run ([[requireUnpinned]]), so a long probe session
    * that pinned a commit-log snapshot can never have the rows that
    * snapshot references reclaimed out from under it. Appends and
    * deletes do NOT check pins — they are append-only on disk and
    * cannot invalidate one (that is the snapshot-isolation property
    * the commit logs already give). The pin carries a TTL: a crashed
    * reader's pin expires rather than blocking maintenance forever —
    * the same liveness posture as [[withWriterLock]]'s stale-lease
    * takeover. Returns the pin id to pass to [[releasePin]]. */
  def pinSnapshot(spark: SparkSession, indexPath: String,
                  owner: String = "reader",
                  ttlMs: Long = 15 * 60 * 1000L): String =
    writePin(spark, indexPath, owner, ttlMs, version = None)

  /** Pin the CURRENT committed version of a version-swapped index
    * ([[publishVersion]] layout) and return (pin id, resolved data
    * directory). While the pin is live, [[publishVersion]]'s GC
    * retains that version even after it ages below the `keep` depth —
    * so a probe session that resolved a version keeps reading
    * complete files across any number of swaps, and maintenance never
    * blocks (a swap only ADDS versions; only the aged-out reclaim
    * waits for the pin). The TTL bounds a crashed reader, like every
    * other pin. Throws if nothing has ever been published. */
  def pinCurrentVersion(spark: SparkSession, indexPath: String,
                        owner: String = "reader",
                        ttlMs: Long = 15 * 60 * 1000L): (String, String) = {
    val v = committedVersions(spark, indexPath).lastOption.getOrElse(
      throw new IllegalStateException(
        s"pinCurrentVersion: no committed version at $indexPath"))
    (writePin(spark, indexPath, owner, ttlMs, version = Some(v)),
      s"$indexPath/$VersionPrefix$v")
  }

  private def writePin(spark: SparkSession, indexPath: String, owner: String,
                       ttlMs: Long, version: Option[Long]): String = {
    val id = java.util.UUID.randomUUID.toString
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$PinsDir/$id")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, false)
    val body = s"$owner\n$ttlMs" + version.fold("")(v => s"\n$v")
    try out.write(body.getBytes("UTF-8")) finally out.close()
    id
  }

  /** Release a [[pinSnapshot]] pin; idempotent (a second release, or
    * releasing an expired-and-cleaned pin, is a no-op). */
  def releasePin(spark: SparkSession, indexPath: String, pinId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexPath/$PinsDir/$pinId")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  private final case class LivePin(owner: String, version: Option[Long])

  /** The currently LIVE pins on an index (owner + the version a
    * [[pinCurrentVersion]] pin resolved, if any). Expired pins (older
    * than their own TTL — crashed readers) are cleaned up as they are
    * discovered. */
  private def readLivePins(spark: SparkSession, indexPath: String): Seq[LivePin] = {
    val dir = new org.apache.hadoop.fs.Path(s"$indexPath/$PinsDir")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      val (owner, ttl, ver) =
        try {
          val in = fs.open(st.getPath)
          val txt =
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
            finally in.close()
          val lines = txt.split("\n")
          (lines(0),
            scala.util.Try(lines(1).trim.toLong).getOrElse(0L),
            if (lines.length > 2) scala.util.Try(lines(2).trim.toLong).toOption
            else None)
        } catch { case _: java.io.IOException => ("unknown", 0L, None) }
      if (System.currentTimeMillis - st.getModificationTime > ttl) {
        fs.delete(st.getPath, false) // expired — crashed reader
        None
      } else Some(LivePin(owner, ver))
    }
  }

  /** Owners of the currently LIVE pins on an index. */
  def livePins(spark: SparkSession, indexPath: String): Seq[String] =
    readLivePins(spark, indexPath).map(_.owner)

  /** The retention gate a reclaim step calls before deleting rows:
    * throws [[PinnedSnapshotException]] naming the live pin owners if
    * any reader still holds one. */
  def requireUnpinned(spark: SparkSession, indexPath: String, step: String): Unit = {
    val live = livePins(spark, indexPath)
    if (live.nonEmpty)
      throw new PinnedSnapshotException(
        s"$step on $indexPath would reclaim rows still pinned by " +
          s"[${live.mkString(", ")}]; retry after the pins release or expire")
  }

  /** Thrown when a maintenance writer finds another writer's live
    * lease on the index — the caller backs off and retries later
    * (the reference's batch machine defers a claimed batch the same
    * way: status_claim's conditional-update semantics). */
  final class ConcurrentMaintenanceException(msg: String)
    extends RuntimeException(msg)

  private val LockName = "_maintenance_lock"

  /** Run `body` under an EXCLUSIVE maintenance lease on an index
    * directory. The index commit logs make appends/deletes safe
    * without coordination (append-only files, commit-last, per-attempt
    * ids — concurrent appends commute), but the REWRITING maintenance
    * steps (vacuum, retrain, compact) replace files other maintainers
    * might be mid-rewrite on, so they must be single-writer. The
    * lease is an atomic lock-file create (`FileSystem.create` with
    * overwrite=false — atomic on HDFS; object stores would swap in a
    * conditional PUT here): first writer wins, the loser gets
    * [[ConcurrentMaintenanceException]] naming the holder and backs
    * off. A crashed writer's lock goes stale: a lock older than
    * `leaseMs` is broken and taken over, so one dead maintainer can
    * never wedge the index forever. The lock releases on every exit
    * path, including a thrown body. */
  def withWriterLock[T](spark: SparkSession, indexPath: String,
                        owner: String = "maintenance",
                        leaseMs: Long = 15 * 60 * 1000L)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$indexPath/$LockName")
    val fs = lock.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tryTake(): Boolean =
      try {
        val out = fs.create(lock, false)
        try out.write(owner.getBytes("UTF-8")) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryTake()) {
      // held — break only a STALE lease (holder presumed dead)
      val stale =
        try System.currentTimeMillis - fs.getFileStatus(lock).getModificationTime > leaseMs
        catch { case _: java.io.FileNotFoundException => true } // released just now
      if (stale) fs.delete(lock, false)
      if (!tryTake()) {
        val holder =
          try {
            val in = fs.open(lock)
            try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
            finally in.close()
          } catch { case _: java.io.IOException => "unknown" }
        throw new ConcurrentMaintenanceException(
          s"index at $indexPath is locked by '$holder'; retry after its lease expires")
      }
    }
    try body finally fs.delete(lock, false)
  }
}
