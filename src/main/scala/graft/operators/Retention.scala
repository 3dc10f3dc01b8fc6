package graft.operators

import graft.sources.IndexLayout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** AGE-BASED RETENTION — the GDPR/TTL loop a curation pipeline runs
  * on its serving indexes, end-to-end.
  *
  * Both index families already expose the exact forget path
  * ([[TextAnalysis.bm25Delete]], [[Similarity.ivfDelete]] — tombstone
  * + commit row) and the physical reclaim
  * ([[TextAnalysis.bm25Vacuum]], [[Similarity.ivfCompact]] — under
  * the writer lease and the read-pin retention gate). What a
  * deployment schedules is the COMPOSITION: select the expired ids
  * from a metadata frame, tombstone them, then opportunistically
  * reclaim — deferring, not failing, when a reader pin or another
  * maintainer holds the index. Every step is idempotent and
  * re-drivable, so the cycle can run from cron unsupervised: a
  * deferred reclaim simply happens on the next tick (the reference's
  * re-drivable batch posture, arxiv_etl.py:42-58).
  *
  * The tick is SELF-TUNING: the physical reclaim is a rewrite, so it
  * runs only when the index's own measures say it is worth paying —
  * the reclaimable row fraction
  * ([[IndexLayout.Appendable.reclaimableFraction]]) exceeds
  * `minReclaim`, or a partition has fragmented past `maxFiles*`
  * ([[IndexLayout.Appendable.fragmented]]). Below both
  * thresholds the tick SKIPS the rewrite and the dead weight simply
  * accumulates toward a later tick — the
  * [[TextAnalysis.bm25RefreshIfStale]] ε-posture generalized to the
  * whole maintenance loop. Tombstones commit unconditionally either
  * way: expiry is correctness (stop serving NOW), reclaim is
  * economics (rewrite when worthwhile).
  */
object Retention {

  /** One maintenance tick's outcome. Only [[Reclaimed]] means the
    * rewrite ran; the other two are normal cron outcomes, never
    * errors — and in every case the tick's tombstones are already
    * committed, so expired docs stopped serving immediately. */
  sealed trait Tick
  /** The physical reclaim ran. */
  case object Reclaimed extends Tick
  /** Reclaimable fraction ≤ ε and nothing fragmented — the rewrite
    * isn't worth its cost yet; dead rows wait for a later tick. */
  case object Skipped extends Tick
  /** A live reader pin or another maintainer's lease blocks the
    * reclaim — retry next tick (the re-drivable deferral). */
  case object Deferred extends Tick

  /** One scheduled maintenance tick for a raw BM25 index: expire by
    * age, measure, then reclaim only when the measures justify the
    * rewrite (reclaimable fraction > `minReclaim`, or any bucket
    * fragmented past `maxFilesPerBucket`). [[Skipped]]/[[Deferred]]
    * are normal outcomes to retry next tick, never errors; the
    * tombstones are committed either way, so expired docs stop being
    * served immediately — only the disk reclaim waits. Pass `metrics`
    * to record the expire/reclaim phases as named scopes (the
    * operational trail a monitor alerts on). `meta` is the corpus's
    * metadata table (doc_id + timestamp — the pipeline's own landed
    * table, not the index); unindexed and already-deleted ids are
    * no-ops by the delete's idempotence. */
  def bm25RetentionCycle(spark: SparkSession, path: String,
                         meta: DataFrame, tsCol: String, cutoff: Column,
                         maxFilesPerBucket: Int = 1,
                         minReclaim: Double = 0.0,
                         metrics: Option[graft.Metrics] = None): Tick =
    cycle(spark, RawBm25, "bm25", path, meta, tsCol, cutoff, maxFilesPerBucket, minReclaim,
      metrics)

  /** One scheduled maintenance tick for a persisted IVF index —
    * [[bm25RetentionCycle]]'s shape: expire by age, then compact only
    * when the dead-row fraction or cell fragmentation justifies it,
    * deferring (not failing) under a pin or lease. */
  def ivfRetentionCycle(spark: SparkSession, path: String,
                        meta: DataFrame, tsCol: String, cutoff: Column,
                        maxFilesPerCell: Int = 1,
                        minReclaim: Double = 0.0,
                        metrics: Option[graft.Metrics] = None): Tick =
    cycle(spark, Ivf, "ivf", path, meta, tsCol, cutoff, maxFilesPerCell, minReclaim, metrics)

  private def cycle(spark: SparkSession, kind: IndexKind, tag: String, path: String,
                    meta: DataFrame, tsCol: String, cutoff: Column, maxFiles: Int,
                    minReclaim: Double, metrics: Option[graft.Metrics]): Tick = {
    scoped(metrics, s"${tag}_retention_expire") {
      kind.expire(spark, path, meta.filter(col(tsCol) < cutoff))
    }
    val worth = kind.deadWeight(spark, path) > minReclaim ||
      kind.fragmented(spark, path, maxFiles)
    if (!worth) Skipped
    else deferring {
      scoped(metrics, s"${tag}_retention_reclaim")(kind.reclaim(spark, path, maxFiles))
      Reclaimed
    }
  }

  /** `body`'s outcome, or [[Deferred]] when a read pin or another
    * maintainer's lease blocks it. */
  private def deferring(body: => Tick): Tick =
    try body catch {
      case _: graft.sources.Lake.PinnedSnapshotException => Deferred
      case _: graft.sources.Lake.ConcurrentMaintenanceException => Deferred
    }

  /** One scheduled maintenance tick for an IMPACT-layout BM25 index
    * (the version-swapped, rebuild-on-refresh family): expire by age
    * ([[TextAnalysis.bm25MarkDeleted]] tombstones — serves stop
    * immediately via the live-serve mask), then let
    * [[TextAnalysis.bm25RefreshIfStale]] decide the rebuild by its
    * own ε — the impact layout's reclaim IS the staleness-bounded
    * refresh, so the self-tuning measure here is the tombstoned doc
    * fraction, and the rebuilt version publishes atomically
    * ([[graft.sources.Lake.publishVersion]] — read pins never block
    * the swap, only the aged version's GC). `docs` is the CURRENT
    * source corpus the refresh rebuilds from. Defers under another
    * maintainer's lease, like the other ticks. */
  def bm25ImpactRetentionCycle(spark: SparkSession, path: String,
                               docs: DataFrame, meta: DataFrame,
                               tsCol: String, cutoff: Column,
                               eps: Double = 0.2,
                               metrics: Option[graft.Metrics] = None): Tick = {
    scoped(metrics, "bm25_impact_retention_expire") {
      TextAnalysis.bm25MarkDeleted(spark, path,
        meta.filter(col(tsCol) < cutoff).select(col("doc_id")))
    }
    deferring {
      val rebuilt = scoped(metrics, "bm25_impact_retention_refresh") {
        TextAnalysis.bm25RefreshIfStale(docs, path, eps)
      }
      if (rebuilt) Reclaimed else Skipped
    }
  }

  private def scoped[T](m: Option[graft.Metrics], name: String)(body: => T): T =
    m.fold(body)(_.measure(name)(body))

  /** One scheduled compaction tick for a LAKE TABLE — the cron
    * wrapper over [[graft.sources.Lake.compactTable]] (F14
    * `compaction_plan`'s physical half), with the family's outcome
    * contract: [[Skipped]] when no partition is fragmented past
    * `maxFilesPerPartition` (the listing is pure driver metadata —
    * a clean tick costs no read), [[Deferred]] under a read pin or a
    * foreign maintainer's lease, [[Reclaimed]] when the rewrite ran.
    * There is no expiry step — lake tables forget through their own
    * curation pipelines; this tick only repacks small files. */
  def lakeCompactionCycle(spark: SparkSession, path: String,
                          maxFilesPerPartition: Int = 1,
                          targetBytes: Long = 128L * 1024 * 1024,
                          metrics: Option[graft.Metrics] = None): Tick = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val partDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
    val groups = if (partDirs.nonEmpty) partDirs.map(_.getPath) else Seq(root)
    val fragmented = groups.exists { dir =>
      fs.listStatus(dir).count(f =>
        f.isFile && f.getPath.getName.endsWith(".parquet")) > maxFilesPerPartition
    }
    if (!fragmented) Skipped
    else deferring {
      scoped(metrics, "lake_compaction") {
        graft.sources.Lake.compactTable(spark, path, maxFilesPerPartition, targetBytes)
      }
      Reclaimed
    }
  }

  /** The index families the sweep can maintain — one entry per
    * persisted-index layout the library ships. An appendable family
    * expires through its layout's tombstone delete and is measured by
    * its layout's reclaimable fraction and partition fragmentation;
    * the overrides are each family's own logic. */
  sealed abstract class IndexKind(layout: Option[IndexLayout.Appendable]) {
    /** Tombstone the docs of `expired` (a frame with `doc_id`). */
    def expire(spark: SparkSession, path: String, expired: DataFrame): Unit =
      layout.get.delete(spark, path, expired.select(col("doc_id").as(layout.get.id.get)))
    /** The dead-weight fraction a reclaim would drop. */
    def deadWeight(spark: SparkSession, path: String): Double =
      layout.get.reclaimableFraction(spark, path)
    def fragmented(spark: SparkSession, path: String, maxFiles: Int): Boolean =
      layout.get.fragmented(spark, path, maxFiles).nonEmpty
    /** The physical reclaim (under the writer lease and the pin gate). */
    def reclaim(spark: SparkSession, path: String, maxFiles: Int): Unit =
      layout.get.vacuum(spark, path, maxFiles)
  }
  /** A raw appendable BM25 index ([[TextAnalysis.bm25WriteRaw]]): a
    * delete also commits the negative stats-log row. */
  case object RawBm25 extends IndexKind(Some(IndexLayout.RawBm25)) {
    override def expire(spark: SparkSession, path: String, expired: DataFrame): Unit =
      TextAnalysis.bm25Delete(spark, path, expired)
  }
  /** A persisted IVF index ([[Similarity.ivfWriteFrom]]), including
    * its PQ sidecar when one is attached. */
  case object Ivf extends IndexKind(Some(IndexLayout.Ivf))
  /** An impact-layout BM25 index ([[TextAnalysis.bm25Write]] — the
    * version-swapped, rebuild-on-refresh family). Its reclaim IS the
    * ε-gated refresh, so a [[Maintained]] of this kind must carry
    * `docs` (the CURRENT corpus the rebuild reads); its measure is the
    * tombstoned doc fraction, and fragmentation never applies (each
    * version is a one-shot write). */
  case object ImpactBm25 extends IndexKind(None) {
    override def expire(spark: SparkSession, path: String, expired: DataFrame): Unit =
      TextAnalysis.bm25MarkDeleted(spark, path, expired)
    override def deadWeight(spark: SparkSession, path: String): Double =
      TextAnalysis.bm25DeletedFraction(spark, path)
    override def fragmented(spark: SparkSession, path: String, maxFiles: Int): Boolean = false
  }
  /** A persisted reference-signature dedup index
    * ([[NearDup.dedupIndexWrite]]). The dfs delta-history fraction
    * competes alongside the tombstone/orphan fraction: appends bloat
    * the detection scan's read even with zero dead postings, and the
    * same vacuum recompacts both. */
  case object DedupSig extends IndexKind(Some(IndexLayout.DedupSig)) {
    override def deadWeight(spark: SparkSession, path: String): Double =
      math.max(super.deadWeight(spark, path), NearDup.dedupDfsReclaimableFraction(spark, path))
    override def reclaim(spark: SparkSession, path: String, maxFiles: Int): Unit =
      NearDup.dedupIndexVacuum(spark, path, maxFiles)
  }
  /** A persisted line-frequency (boilerplate-df) index
    * ([[TextAnalysis.lineIndexWrite]]). */
  case object LineDf extends IndexKind(Some(IndexLayout.Lines))
  /** A persisted perceptual-hash band index
    * ([[Multimodal.phashIndexWrite]]). */
  case object Phash extends IndexKind(Some(IndexLayout.Phash))

  /** One index under the sweep's care: where it lives, which family's
    * forget/reclaim paths apply, and the expiry rule (metadata frame +
    * timestamp column + cutoff). `driftEps` (IVF only) additionally
    * arms the centroid-drift trigger: past it, the index's rewrite
    * slot runs [[Similarity.ivfRetrain]] instead of a compaction —
    * one sweep drives reclaim AND retraining by measurement — and a
    * retrained index's PQ sidecar (if attached) is re-fit in the same
    * slot ([[Similarity.pqReattach]]: the retrain orphans every
    * residual code AND stales the frozen books, so coverage-only
    * repair would silently degrade ADC quality). `docs` is the
    * rebuild corpus an [[ImpactBm25]] refresh reads (required for
    * that kind, ignored otherwise). */
  final case class Maintained(name: String, kind: IndexKind, path: String,
                              meta: DataFrame, tsCol: String, cutoff: Column,
                              maxFiles: Int = 1,
                              driftEps: Option[Double] = None,
                              docs: Option[DataFrame] = None)

  /** One maintenance SWEEP over a fleet of indexes — the scheduling
    * policy on top of the per-index ticks: EXPIRE everywhere first
    * (tombstones are correctness and always commit — no budget ever
    * delays an erasure), then reclaim in descending order of each
    * index's measured dead weight ([[IndexKind.deadWeight]]), at most
    * `maxReclaims`
    * rewrites per sweep. Below-ε indexes [[Skipped]]; over-budget,
    * pinned or leased ones [[Deferred]] — both normal outcomes the
    * next sweep retries, so a nightly cron spends its rewrite budget
    * where the measured reclaim is largest and converges over sweeps.
    * Fragmented-but-clean indexes count as worth reclaiming (many
    * small files tax every probe) and sort by their dead-row fraction
    * like the rest. */
  def retentionSweep(spark: SparkSession, indexes: Seq[Maintained],
                     minReclaim: Double = 0.0,
                     maxReclaims: Int = Int.MaxValue,
                     metrics: Option[graft.Metrics] = None): Map[String, Tick] = {
    indexes.foreach { ix =>
      scoped(metrics, s"sweep_expire_${ix.name}") {
        ix.kind.expire(spark, ix.path, ix.meta.filter(col(ix.tsCol) < ix.cutoff))
      }
    }
    val measured = indexes.map { ix =>
      val frac = ix.kind.deadWeight(spark, ix.path)
      val fragmented = ix.kind.fragmented(spark, ix.path, ix.maxFiles)
      // the drift trigger arms an IVF index's slot even with zero dead
      // rows: routing decay is a rewrite-worthy measurement too, and
      // the drift magnitude competes for the budget like a fraction.
      // An attached PQ sidecar's coverage gap arms the slot the same
      // way (appends since the last refresh leave live vectors the
      // ADC serve cannot see — repair is cheap and O(gap))
      val drift = ix.kind match {
        case Ivf if ix.driftEps.isDefined =>
          Some(Similarity.ivfDriftMeasure(spark, ix.path))
            .filter(_ > ix.driftEps.get)
        case _ => None
      }
      val pqGap = ix.kind match {
        case Ivf if Similarity.pqSidecarPresent(spark, ix.path) =>
          Similarity.pqCoverageGap(spark, ix.path) > 0 ||
            Similarity.pqBooksStale(spark, ix.path)
        case _ => false
      }
      (ix, math.max(frac, drift.getOrElse(0.0)), fragmented || pqGap, drift.isDefined)
    }
    val (worth, below) = measured.partition {
      case (_, score, fragmented, drifted) =>
        score > minReclaim || fragmented || drifted
    }
    val ordered = worth.sortBy { case (_, score, _, _) => -score }
    val outcomes = ordered.zipWithIndex.map { case ((ix, _, _, drifted), i) =>
      ix.name -> {
        if (i >= maxReclaims) Deferred
        else deferring {
          scoped(metrics, s"sweep_reclaim_${ix.name}") {
            ix.kind match {
              // the impact layout's slot IS the staleness-bounded
              // refresh: rebuild from the current corpus and publish
              // the version atomically (read pins never block the
              // swap, only the aged version's GC)
              case ImpactBm25 =>
                val docs = ix.docs.getOrElse(throw new IllegalArgumentException(
                  s"${ix.name}: ImpactBm25 needs docs (the corpus the refresh rebuilds from)"))
                if (TextAnalysis.bm25RefreshIfStale(docs, ix.path, eps = minReclaim))
                  Reclaimed else Skipped
              // a drifted index spends its slot on the retrain (which
              // also migrates rows); dead-row compaction, if any
              // remains, wins a later sweep's slot. The retrain stales
              // the PQ sidecar's books AND orphans its codes — re-fit
              // both in the same slot or ADC serving craters silently
              case Ivf if drifted =>
                Similarity.ivfRetrain(spark, ix.path)
                if (Similarity.pqSidecarPresent(spark, ix.path))
                  Similarity.pqReattach(spark, ix.path)
                Reclaimed
              case Ivf =>
                Ivf.reclaim(spark, ix.path, ix.maxFiles)
                if (Similarity.pqSidecarPresent(spark, ix.path)) {
                  // sidecar upkeep rides the slot: reclaim dead code
                  // rows, re-fit stale books (a retrain outside the
                  // sweep), and code any uncovered live vectors
                  Similarity.pqVacuum(spark, ix.path, ix.maxFiles)
                  if (Similarity.pqBooksStale(spark, ix.path))
                    Similarity.pqReattach(spark, ix.path)
                  else if (Similarity.pqCoverageGap(spark, ix.path) > 0)
                    Similarity.pqRefresh(spark, ix.path)
                }
                Reclaimed
              case kind =>
                kind.reclaim(spark, ix.path, ix.maxFiles)
                Reclaimed
            }
          }
        }
      }
    }
    (outcomes ++ below.map { case (ix, _, _, _) => ix.name -> (Skipped: Tick) }).toMap
  }
}
