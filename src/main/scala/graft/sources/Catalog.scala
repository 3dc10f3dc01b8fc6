package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** CROSS-PROCESS INDEX CATALOG — the persisted form of
  * [[graft.Artifacts.directory]]'s build-once-serve-many economics.
  *
  * A directory artifact is built once per (session, key): one process
  * builds a serving index once and every later caller in that process
  * reuses it. At deployment scale the builder and the servers are DIFFERENT
  * processes (a nightly maintenance job; a fleet of query servers),
  * so the memo must live on disk: a manifest mapping
  * (kind, key) → (index path, stamp) that any process can read. The
  * reference keeps exactly this kind of durable claim/registry state
  * in its status store (pg_engine.py's batch table) — here it is a
  * tiny parquet log under the catalog root, declared as
  * [[IndexLayout.Manifest]] and read on the driver
  * ([[IndexLayout.Layout.local]]: no job, no schema inference).
  *
  * The epoch lifecycle is written once, here: [[cutover]] builds every
  * kind of an epoch into fresh store directories and registers them in
  * one commit, [[resolve]] reads them back at one expected epoch, and
  * [[drill]] is the build → supersede → vacuum (→ rollback) sequence
  * the registry's catalog entries run.
  *
  * Concurrency posture matches the index commit logs: registration is
  * an append-only row write that happens AFTER the index files are
  * complete (commit-last — a crash mid-build leaves an unregistered
  * directory no reader ever resolves), lookups take the
  * highest-sequence row per key (two racing builders both land; the
  * later registration wins, the loser's directory stays until
  * [[vacuum]]), and vacuum honors [[Lake.requireUnpinned]] read pins
  * like every other reclaim step.
  */
object Catalog {

  private val Dir = "manifest"
  private val Store = "store"

  /** One manifest row. */
  private[sources] final case class Entry(kind: String, key: String, path: String, stamp: String,
                                          seq: Long)

  /** JVM-wide registration lock. registerAll does an unserialized
    * max(seq)+1 read-modify-write plus a mode(append) parquet write
    * whose jobs share the manifest directory's _temporary staging —
    * two IN-PROCESS concurrent registrations (Par-overlapped cutover
    * legs) could tie on seq or lose a row when one job's commit
    * cleanup deletes the other's staging. Cross-process races stay
    * last-wins-by-seq as documented; this lock only serializes the
    * manifest read+append in process. Builds stay outside it. */
  private val registerLock = new Object

  /** All manifest rows (kind, key, path, stamp, seq) as a local
    * relation — empty if the catalog was never written. A row a
    * crashed [[checkpoint]] left housed twice appears twice. */
  def entries(spark: SparkSession, catalogDir: String): DataFrame =
    spark.createDataFrame(IndexLayout.Manifest.local(spark, catalogDir, Dir).asJava,
      IndexLayout.Manifest.dirs(Dir))

  /** The manifest's distinct rows, read on the driver: full-row dedup
    * absorbs a crashed checkpoint's double-housed rows (they are
    * identical), so every consumer sees exact registration semantics. */
  private def manifest(spark: SparkSession, catalogDir: String): Seq[Entry] =
    IndexLayout.Manifest.local(spark, catalogDir, Dir).map(r =>
      Entry(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4))).distinct

  /** (kind, key)'s registrations, newest first. */
  private def history(m: Seq[Entry], kind: String, key: String): Seq[Entry] =
    m.filter(e => e.kind == kind && e.key == key).sortBy(-_.seq)

  private def write(spark: SparkSession, rows: Seq[Entry], dir: String, mode: String): Unit = {
    import spark.implicits._
    rows.toDF().coalesce(1).write.mode(mode).parquet(dir)
  }

  /** Register a COMPLETE index under (kind, key): a one-row
    * [[registerAll]]. `path` must already hold the finished index —
    * this row is the commit that makes it discoverable. `stamp`
    * records the index state the builder served from (a snapshot id, a
    * corpus fingerprint, a build date) so a serving process can judge
    * freshness without opening the index. */
  def register(spark: SparkSession, catalogDir: String, kind: String,
               key: String, path: String, stamp: String): Unit =
    registerAll(spark, catalogDir, Seq((kind, key, path, stamp)))

  /** Atomically supersede MANY keys in one registration — the
    * fleet-wide EPOCH CUTOVER's commit: a nightly maintenance job
    * rebuilds N indexes against the same corpus snapshot and they must
    * become visible TOGETHER (a fleet serving key A from epoch-2 and
    * key B from epoch-1 mixes corpus states across one query). All
    * rows land in ONE manifest file under ONE shared seq — the file
    * create/rename is the single commit, so any reader's lookups flip
    * every key at once: old-epoch or new-epoch, never a mix. Each
    * `path` must already hold its finished index (commit-last);
    * superseded stores stay readable until [[vacuum]] (the
    * version-grace posture). */
  def registerAll(spark: SparkSession, catalogDir: String,
                  rows: Seq[(String, String, String, String)]): Unit = registerLock.synchronized {
    if (rows.isEmpty) return
    require(rows.map(r => (r._1, r._2)).distinct.length == rows.length,
      "registerAll: one row per (kind, key) — duplicate keys in a " +
        "single cutover would tie on seq and resolve arbitrarily")
    val seq = manifest(spark, catalogDir).map(_.seq).maxOption.getOrElse(0L) + 1L
    write(spark, rows.map { case (kind, key, path, stamp) => Entry(kind, key, path, stamp, seq) },
      s"$catalogDir/$Dir", "append")
  }

  /** One epoch CUTOVER: build every kind into a fresh
    * `store/<kind>/<uuid>` directory (a unique name per attempt — a
    * racing builder can never clobber a directory a reader already
    * resolved), the independent legs overlapped by [[graft.Par.jobs]],
    * then land them all under `key` and `stamp` in one [[registerAll]]
    * commit. Returns the directories, in `builds` order. A leg that
    * throws registers nothing: once every leg has stopped, this
    * attempt's directories — unregistered, so unresolvable — are
    * deleted and the failure rethrown, and a re-driven cutover lands
    * once. */
  def cutover(spark: SparkSession, catalogDir: String, key: String, stamp: String)
             (builds: (String, String => Unit)*): Seq[String] = {
    val dirs = builds.map { case (kind, _) =>
      s"$catalogDir/$Store/$kind/${java.util.UUID.randomUUID}" }
    try graft.Par.jobs(builds.zip(dirs).map { case ((_, build), d) => () => build(d) }: _*)
    catch { case e: Throwable =>
      val fs = new Path(catalogDir).getFileSystem(spark.sessionState.newHadoopConf())
      dirs.foreach(d => fs.delete(new Path(d), true))
      throw e
    }
    registerAll(spark, catalogDir,
      builds.zip(dirs).map { case ((kind, _), d) => (kind, key, d, stamp) })
    dirs
  }

  /** Latest registered (path, stamp) for (kind, key) — what a serving
    * process resolves at startup or per maintenance epoch. */
  def lookup(spark: SparkSession, catalogDir: String, kind: String,
             key: String): Option[(String, String)] =
    history(manifest(spark, catalogDir), kind, key).headOption.map(e => (e.path, e.stamp))

  /** The serving half of a [[cutover]]: every kind's path under `key`,
    * all registered at epoch `stamp`. A kind that is missing or serves
    * another epoch refuses the whole fleet — a reader must never fuse
    * corpus states inside one answer. */
  def resolve(spark: SparkSession, catalogDir: String, key: String, stamp: String)
             (kinds: String*): Map[String, String] = {
    val m = manifest(spark, catalogDir)
    val found = kinds.map(kind => kind -> history(m, kind, key).headOption)
    require(found.forall(_._2.exists(_.stamp == stamp)),
      s"fleet must resolve ONE epoch ($stamp) for every kind: " +
        found.map { case (k, e) => s"$k=${e.fold("none")(_.stamp)}" }.mkString(" "))
    found.map { case (kind, e) => kind -> e.get.path }.toMap
  }

  /** Resolve-or-build: the cross-process [[graft.Artifacts.directory]]. A
    * registered index for (kind, key) is reused as-is — the build
    * callback never runs, which is the whole economics: one
    * maintenance process pays the build, every serving process pays a
    * manifest lookup. On a miss, the index is built and registered by
    * a one-kind [[cutover]].
    *
    * FRESHNESS CONTRACT: `stamp` names the corpus state the caller
    * needs the index built from (a snapshot id, a landed-table
    * fingerprint, a build epoch). A non-empty `stamp` that differs
    * from the registration's stamp means the registered index is
    * STALE for this caller — it rebuilds into a fresh store directory
    * and supersedes by seq, exactly the hand-rolled
    * register-a-rebuild flow made automatic. Readers that resolved
    * the stale path keep reading it untouched until [[vacuum]]
    * reclaims it (superseded ≠ deleted — the version-grace posture).
    * An empty `stamp` means "any registered index will do" — the
    * serving-process default that never rebuilds. */
  def resolveOrBuild(spark: SparkSession, catalogDir: String, kind: String,
                     key: String, stamp: String = "")
                    (build: String => Unit): String =
    lookup(spark, catalogDir, kind, key) match {
      case Some((path, registered)) if stamp.isEmpty || registered == stamp => path
      case _ => cutover(spark, catalogDir, key, stamp)(kind -> build).head
    }

  /** The catalog lifecycle drill, in a scratch catalog: epoch-1 builds
    * every kind on the corpus prefix (ids ≤ `cut`), the corpus drifts,
    * epoch-2 builds them on the full corpus and supersedes — each epoch
    * one [[cutover]] of copies of the kinds' session templates
    * (`templates`: kind → the template directory of a snapshot, Some(cut)
    * = prefix, None = full), so the drill registers, vacuums and serves
    * real files it owns while the corpus pass is paid once per session.
    * Then a vacuum reclaims the superseded stores and `serve` gets
    * every kind's path at the serving epoch ([[resolve]]).
    *
    * With `rollback`, epoch-2 is the drill's bad build: a
    * `keepEpochs = 2` vacuum keeps the rollback headroom,
    * [[rollbackAll]] restores every kind's epoch-1 in one commit, and
    * the default vacuum reclaims the bad stores while the
    * rolled-back-to ones survive (they are the newest registrations
    * again); epoch-1 serves. */
  def drill(spark: SparkSession, scratch: String, key: String, cut: Long,
            rollback: Boolean = false)(templates: (String, Option[Long] => String)*)
           (serve: Map[String, String] => DataFrame): DataFrame =
    Lake.withScratchIndex(spark, scratch) { cat =>
      for ((stamp, snap) <- Seq("epoch-1" -> Some(cut), "epoch-2" -> None))
        cutover(spark, cat, key, stamp)(templates.map { case (kind, template) =>
          kind -> graft.Artifacts.promote(spark, template(snap)) }: _*)
      val kinds = templates.map(_._1)
      if (rollback) {
        vacuum(spark, cat, keepEpochs = 2)
        rollbackAll(spark, cat, kinds.map((_, key)))
      }
      vacuum(spark, cat)
      serve(resolve(spark, cat, key, if (rollback) "epoch-1" else "epoch-2")(kinds: _*))
    }

  /** Roll a key back to its PREVIOUS epoch: re-register the
    * second-newest registration's (path, stamp) at a NEW highest seq,
    * so every fleet lookup flips back in one commit — the rollback
    * drill the `keepEpochs` retention headroom exists for. The bad
    * epoch's row is superseded, not erased (the manifest stays an
    * append-only audit log), and the next default [[vacuum]] reclaims
    * its store while keeping the rolled-back-to one (it is the newest
    * registration again). Returns the (path, stamp) now serving.
    * Throws if no prior epoch survives — rollback needs
    * `vacuum(keepEpochs >= 2)` discipline between cutovers. */
  def rollback(spark: SparkSession, catalogDir: String, kind: String,
               key: String): (String, String) = {
    val r = rollbackAll(spark, catalogDir, Seq((kind, key))).head
    (r._3, r._4)
  }

  /** FLEET-WIDE rollback: roll MANY keys back to their previous epoch
    * in ONE [[registerAll]] commit (one manifest file, one shared
    * seq) — the multi-kind form of [[rollback]]. A fleet that cut N
    * kinds over atomically must roll them back atomically too:
    * rolling back one kind at a time recreates exactly the
    * mixed-epoch state the atomic cutover exists to exclude — a
    * reader between two single-kind rollbacks would fuse corpus
    * states inside one answer. ALL-OR-NOTHING: every key's prior
    * epoch is located BEFORE anything registers, so one key without
    * rollback headroom (no `vacuum(keepEpochs >= 2)` discipline)
    * aborts the whole drill with NOTHING written — a partial fleet
    * rollback is never observable, not even transiently. Returns the
    * (kind, key, path, stamp) rows now serving. */
  def rollbackAll(spark: SparkSession, catalogDir: String,
                  keys: Seq[(String, String)])
      : Seq[(String, String, String, String)] = {
    require(keys.nonEmpty, "rollbackAll: no keys to roll back")
    val m = manifest(spark, catalogDir)
    val prior = keys.map { case (kind, key) =>
      val rows = history(m, kind, key)
      require(rows.length >= 2,
        s"rollbackAll($kind, $key): no prior epoch registered — the " +
          "whole fleet rollback aborts with nothing written " +
          "(all-or-nothing); retain headroom with vacuum(keepEpochs >= 2)")
      (kind, key, rows(1).path, rows(1).stamp)
    }
    registerAll(spark, catalogDir, prior)
    prior
  }

  /** Compact the manifest's accumulated registration FILES into one
    * checkpoint file without dropping any epoch — the move every
    * commit-log system makes. Every [[registerAll]] appends one
    * parquet file and every manifest read lists and reads all of them,
    * so a fleet doing frequent cutovers grows the listing without
    * bound between vacuums; checkpoint bounds it at any time, with
    * full rollback headroom intact (unlike [[vacuum]], which drops
    * superseded epochs). Protocol: list the CURRENT manifest files,
    * merge the manifest's rows into one file written aside, RENAME it
    * into the manifest (the single atomic commit), then delete exactly
    * the listed files — every one of them was read, and a registration
    * racing the checkpoint appends a file that is never deleted, so no
    * row can be lost. A reader in the swap window (or after a crash
    * between the rename and the deletes), or a registration landing
    * between the listing and the read, may leave a row housed twice;
    * all consumers tolerate exact-duplicate rows (every manifest read
    * dedups full rows), and the next checkpoint absorbs the
    * duplicates. Runs under the writer lease; needs NO read-pin gate —
    * no row is removed, only re-housed. */
  def checkpoint(spark: SparkSession, catalogDir: String): Unit =
    Lake.withWriterLock(spark, catalogDir, "catalogCheckpoint") {
      val conf = spark.sessionState.newHadoopConf()
      val files = IndexLayout.files(conf, s"$catalogDir/$Dir")
      val fs = new Path(catalogDir).getFileSystem(conf)
      if (files.nonEmpty) {
        // reclaim stray merge dirs a crashed checkpoint left behind
        // (safe under the lock: no other checkpoint is mid-write)
        fs.listStatus(new Path(catalogDir)).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("_ckpt_"))
          .foreach(s => fs.delete(s.getPath, true))
      }
      if (files.length > 1) {
        val tmp = s"$catalogDir/_ckpt_${java.util.UUID.randomUUID}"
        write(spark, manifest(spark, catalogDir), tmp, "overwrite")
        val part = IndexLayout.files(conf, tmp).head
        // the rename is the commit: readers resolve old files or
        // merged+old, never a missing state
        fs.rename(new Path(part.path),
          new Path(s"$catalogDir/$Dir/ckpt-${java.util.UUID.randomUUID}.parquet"))
        files.foreach(f => fs.delete(new Path(f.path), false))
        fs.delete(new Path(tmp), true)
      }
    }

  /** Reclaim store directories no longer referenced by any key's
    * `keepEpochs` newest registrations (superseded rebuilds,
    * racing-builder losers) and drop their superseded manifest rows.
    * The default retains only the latest epoch per key; a fleet that
    * wants ROLLBACK headroom passes `keepEpochs = K` and the last K
    * epochs' stores stay resolvable by seq — the version-swap grace
    * posture applied to the catalog. Only directories under the
    * catalog's store are deleted. Runs under the writer lease and
    * refuses while a read pin is live — the same retention contract
    * as every other physical reclaim. */
  def vacuum(spark: SparkSession, catalogDir: String,
             keepEpochs: Int = 1): Unit =
    IndexLayout.maintain(spark, catalogDir, "catalogVacuum") {
      val all = manifest(spark, catalogDir)
      if (all.nonEmpty) {
        val (keep, superseded) = all.groupBy(e => (e.kind, e.key)).values.toSeq
          .map(_.sortBy(-_.seq).splitAt(keepEpochs)).unzip
        // a path re-registered later under any key stays live
        val live = keep.flatten.map(_.path).toSet
        val fs = new Path(catalogDir).getFileSystem(spark.sessionState.newHadoopConf())
        superseded.flatten.map(_.path).distinct
          .filter(p => !live(p) && p.startsWith(s"$catalogDir/$Store/"))
          .foreach(p => fs.delete(new Path(p), true))
        write(spark, keep.flatten, s"$catalogDir/$Dir", "overwrite")
      }
    }
}
