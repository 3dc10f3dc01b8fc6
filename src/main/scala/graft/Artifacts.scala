package graft

import java.nio.charset.StandardCharsets.UTF_8

import graft.sources.Catalog
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Build-once session artifacts: the one place a derived table, model
  * or index directory is built, cached and reused inside a process
  * (the reference builds each batch once and inserts it
  * first-writer-wins, keyed by what the batch is).
  *
  * An artifact is named by a typed [[Key]]: what it is (a closed
  * [[Kind]]), the corpus directory it derives from, the parameters
  * that shape it, the session's shuffle-partition setting (so a
  * partition-invariance sweep such as DetSweep rebuilds per setting),
  * the catalog stamp (directories only) and the INPUT FINGERPRINT: the
  * driver-side Hadoop listing (path, length, mtime) of the corpus
  * directory. A corpus rewritten inside the session gets a new key and
  * rebuilds instead of serving the stale artifact; the listing is
  * file-system metadata only and runs no Spark job.
  *
  * Two result shapes share one code path ([[once]]: a per-key build
  * cell, stopped-session eviction, the same-key reentry guard and the
  * lineage record):
  *  - [[value]]: whatever the build returns — localCheckpoint'd frames
  *    or tuples of them (pair edges, cluster labels, trained models).
  *    Retention is deliberate: these are decision tables and models
  *    (KBs at the bench SF), never corpus-sized intermediates, so
  *    holding them for the session is the point, not a leak.
  *  - [[directory]]: an on-disk index built once and served READ-ONLY;
  *    mutating lifecycles (append/delete/vacuum drills) [[promote]] a
  *    private physical copy. With a catalog configured (`catalogDir`
  *    here, or `catalogDir:` in graft.conf) the build lands in the
  *    catalog's store and registers in its manifest
  *    ([[Catalog.resolveOrBuild]]), so a maintenance process and a
  *    fleet of serving processes share one physical index; a non-empty
  *    `stamp` carries the corpus state into the catalog's freshness
  *    contract. Without a catalog the directory is session temp space,
  *    recursively deleted at JVM exit by a shutdown hook (which, unlike
  *    File.deleteOnExit, can remove non-empty directories).
  *
  * DIFFERENT keys build concurrently (the multi-artifact owners
  * pre-warm in Par.jobs) while the SAME key builds exactly
  * once. The cell factory does no work inside computeIfAbsent (running
  * builds there deadlocks nested builds); nested builds of different
  * keys (keeper → closure → pairs, sourceBlock → decontam) take
  * distinct cells and the build graph is acyclic, so no lock cycle
  * exists. A build that re-enters its OWN key fails fast: the reentrant
  * monitor would re-admit it and run the build twice (or recurse).
  *
  * Each build appends one lineage record ([[Build]]: key, fingerprint,
  * seconds). Bench drains them after every timed query into
  * `memo_builds`, so a per-query move caused purely by OWNERSHIP (which
  * query first built a shared artifact) adjudicates as such.
  */
object Artifacts {

  sealed abstract class Kind(val name: String)
  /** The artifact is the build's return value. */
  sealed abstract class ValueKind(name: String) extends Kind(name)
  /** The artifact is an index directory. */
  sealed abstract class DirKind(name: String) extends Kind(name)

  // near-duplicate family
  case object Pairs extends ValueKind("pairs")
  case object Clusters extends ValueKind("clusters")
  case object KeepBest extends ValueKind("keepbest")
  case object PageRank extends ValueKind("pagerank")
  // embedding family
  case object SemDedupMembers extends ValueKind("semdedupMem")
  case object SemDedup extends ValueKind("semdedup")
  case object SemDedupEdges extends ValueKind("semdedupEdges")
  case object SemDedupBudget extends ValueKind("semdedupBudget")
  case object IvfIndex extends ValueKind("ivfIndex")
  case object PqIndex extends ValueKind("pqIndex")
  case object OpqIndex extends ValueKind("opqIndex")
  // text family
  case object DocFeatures extends ValueKind("docFeatures")
  case object BpeWordCounts extends ValueKind("bpeWordCounts")
  case object BpeMerges extends ValueKind("bpeMerges")
  case object NbModel extends ValueKind("nbModel")
  case object NbModelPrefix extends ValueKind("nbModelPrefix")
  case object DsirFit extends ValueKind("dsirFit")
  case object DsirPrefix extends ValueKind("dsirPrefix")
  case object Bm25Tf extends ValueKind("bm25Tf")
  case object DocEmbedDense extends ValueKind("docEmbedDense")
  case object PplScores extends ValueKind("pplScores")
  case object PplLm extends ValueKind("pplLm")
  case object Kn2Prefix extends ValueKind("kn2Prefix")
  case object Kn3Prefix extends ValueKind("kn3Prefix")
  case object CcnetBuckets extends ValueKind("ccnetBuckets")
  case object CcnetPrefix extends ValueKind("ccnetPrefix")
  // governance family
  case object Decontam extends ValueKind("decontam")
  case object BenchGrams extends ValueKind("benchGrams")
  case object ZorderLayout extends ValueKind("zorderLayout")
  case object SourceBlock extends ValueKind("sourceBlock")
  case object DupGroups extends ValueKind("dupGroups")
  // index directories: one canonical builder per kind
  case object Bm25ImpactTemplate extends DirKind("tmpl:bm25impact")
  case object IvfTemplate extends DirKind("tmpl:ivf")
  case object IvfPrefixTemplate extends DirKind("tmpl:ivfpre")
  case object DedupSigTemplate extends DirKind("tmpl:dedup_sig")
  case object LineDfTemplate extends DirKind("tmpl:line_df")
  case object LineDfRef3Template extends DirKind("tmpl:line_df_ref3")
  case object ParaDfRef3Template extends DirKind("tmpl:para_df_ref3")
  case object KnPrefixStoreTemplate extends DirKind("tmpl:kn2store")
  case object NbModelTemplate extends DirKind("tmpl:nbmodel")

  /** What an artifact is and what it was derived from. `params` must
    * carry every argument that shapes the artifact, so callers that
    * deviate from a default get their own artifact. */
  final case class Key(kind: Kind, dir: String, params: Seq[Any],
                       partitions: String, stamp: String, inputs: String) {
    /** Kind, corpus and params: the `memo_builds` tag and the catalog
      * key (the partition setting and fingerprint are session-local). */
    def label: String = (Seq(kind.name, dir) ++ params).mkString(":")
  }

  /** Lineage: one record per build. */
  final case class Build(key: Key, seconds: Double)

  private type Slot = (SparkSession, Key)
  private val built = scala.collection.mutable.HashMap[Slot, AnyRef]()
  private val cells = new java.util.concurrent.ConcurrentHashMap[Slot, Object]()
  private val inFlight = ThreadLocal.withInitial[Set[Slot]](() => Set.empty)
  private val lineage = scala.collection.mutable.ArrayBuffer[Build]()

  /** The session artifact `kind` over `dir` under `params`, built by
    * `build` the first time it is needed. */
  def value[T <: AnyRef](spark: SparkSession, kind: ValueKind, dir: String,
                         params: Any*)(build: => T): T =
    once(spark, key(spark, kind, dir, params, ""))(build)

  /** The session index directory `kind` over `dir` under `params`;
    * `build` writes it into the directory it is given. */
  def directory(spark: SparkSession, kind: DirKind, dir: String,
                params: Seq[Any] = Nil, stamp: String = "",
                catalogDir: Option[String] = None)
               (build: String => Unit): String = {
    val k = key(spark, kind, dir, params, stamp)
    once(spark, k) {
      catalogDir.orElse(Some(GraftConfig.ambient.catalogDir).filter(_.nonEmpty)) match {
        case Some(c) => Catalog.resolveOrBuild(spark, c, "shared", k.label, stamp)(build)
        case None =>
          val tmp = java.nio.file.Files.createTempDirectory("graft_shared_idx").toString
          Runtime.getRuntime.addShutdownHook(new Thread(() => {
            try {
              val p = new Path(tmp)
              p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
            } catch { case _: Throwable => () }
          }))
          build(tmp)
          tmp
      }
    }
  }

  /** Physically copy a directory artifact to `dst` — the promote step
    * of every template-and-promote drill: the drill mutates, registers,
    * vacuums and reclaims REAL files it owns while the session artifact
    * stays reusable. An existing (empty, pre-created scratch) `dst` is
    * replaced wholesale so the copy lands AS `dst`, not under it. `src`
    * is by-name so a catalog resolve HIT never builds the artifact. */
  def promote(spark: SparkSession, src: => String): String => Unit = dst => {
    val conf = spark.sparkContext.hadoopConfiguration
    val dp = new Path(dst)
    val fs = dp.getFileSystem(conf)
    if (fs.exists(dp)) fs.delete(dp, true)
    val sp = new Path(src)
    FileUtil.copy(sp.getFileSystem(conf), sp, fs, dp, false, conf)
  }

  /** The lineage records appended since the last drain, oldest first. */
  def drain(): Seq[Build] =
    built.synchronized { val r = lineage.toList; lineage.clear(); r }

  private def key(spark: SparkSession, kind: Kind, dir: String,
                  params: Seq[Any], stamp: String): Key =
    Key(kind, dir, params, spark.conf.get("spark.sql.shuffle.partitions", ""),
      stamp, fingerprint(spark, dir))

  /** Digest of the sorted (path, length, mtime) listing of every file
    * under `dir`; a missing `dir` lists as empty. A `listStatus` walk,
    * not `listFiles`: the latter builds LocatedFileStatus, which on the
    * local file system loads each file's permissions by forking a shell
    * (30-90 ms per call on a five-file lake, against ~1 ms for the
    * walk, which reads only length and mtime). */
  private def fingerprint(spark: SparkSession, dir: String): String = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Seq[String] = fs.listStatus(p).toSeq.flatMap(f =>
      if (f.isDirectory) walk(f.getPath)
      else Seq(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}"))
    val files = try walk(new Path(dir)) catch { case _: java.io.FileNotFoundException => Nil }
    val md = java.security.MessageDigest.getInstance("SHA-1")
    files.sorted.foreach(f => md.update(f.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  private def once[T <: AnyRef](spark: SparkSession, key: Key)(build: => T): T = {
    val slot = (spark, key)
    require(!inFlight.get().contains(slot),
      s"Artifacts: same-key reentry during the build of '${key.label}' — " +
        "a build that resolves its own key would run twice (and " +
        "double-register with a catalog); route the nested need " +
        "through the build's own result instead")
    // a long-lived driver cycling sessions must not pin stopped ones
    cells.keySet.removeIf(_._1.sparkContext.isStopped)
    val cell = cells.computeIfAbsent(slot, _ => new Object)
    cell.synchronized {
      built.synchronized {
        built.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
        built.get(slot)
      } match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          inFlight.set(inFlight.get() + slot)
          val t0 = System.nanoTime()
          val v = try build finally inFlight.set(inFlight.get() - slot)
          built.synchronized {
            // a rebuild over rewritten inputs supersedes the stale entry
            built.filterInPlace { case ((s, k), _) =>
              !(s eq spark) || k.copy(inputs = key.inputs) != key }
            built.update(slot, v)
            lineage += Build(key, (System.nanoTime() - t0) / 1e9)
          }
          v
      }
    }
  }
}
