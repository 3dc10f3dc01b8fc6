package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scheduled-maintenance entry point — the reference's automation
  * story (lambda_handlers/collector/collector_handler.py:1-24: a
  * cron/EventBridge-triggered handler that walks the configured
  * sources and runs one unattended tick; README「自動化資料蒐集」) as a
  * runnable Spark main over the library's maintenance surface. One
  * invocation = one tick:
  *
  *   1. one [[operators.Retention.retentionSweep]] over the
  *      configured index fleet (all five persisted families — expiry
  *      always commits, the rewrite budget goes highest-dead-weight
  *      first, the PQ sidecar rides its index's slot),
  *   2. one [[operators.Retention.lakeCompactionCycle]] per
  *      configured lake table,
  *   3. one [[sources.Catalog.checkpoint]] + [[sources.Catalog.vacuum]]
  *      per configured catalog root,
  *   4. the [[Metrics]] frame of every scope as jsonl (the
  *      operational trail the reference ships to its dashboards).
  *
  * Exit 0 on ANY mix of Reclaimed/Skipped/Deferred — all three are
  * normal cron outcomes (a deferred slot simply retries next tick,
  * the reference's re-drivable batch posture); exit 1 only on an
  * unexpected exception, which is what a scheduler alerts on.
  *
  * Usage: `runMain graft.MaintenanceMain [fleetFile] [outJsonl]` —
  * `fleetFile` defaults to graft.conf's `fleetManifest`; the sweep's
  * ε-gate and rewrite budget come from `sweepMinReclaim` /
  * `sweepMaxReclaims` in the same config. The fleet file is one
  * resource per line (`#` comments), key=value tokens after a type
  * word; unknown types, kinds or keys fail LOUDLY (the GraftConfig
  * principle — a typo must not silently un-maintain an index):
  *
  * {{{
  * index name=docs kind=raw_bm25 path=/idx/docs meta=/lake/doc_meta \
  *       ts=ingested ttlDays=365 maxFiles=4
  * index name=vecs kind=ivf path=/idx/vecs meta=/lake/vec_meta \
  *       ts=ingested ttlDays=365 driftEps=0.02
  * index name=serve kind=impact_bm25 path=/idx/serve meta=/lake/doc_meta \
  *       ts=ingested ttlDays=365 docs=/lake/documents
  * index name=fleet kind=ivf catalog=/srv/graft/catalog key=corpus:prod \
  *       meta=/lake/vec_meta ts=ingested ttlDays=365
  * lake path=/lake/events maxFiles=4 targetMB=128
  * catalog dir=/srv/graft/catalog keepEpochs=2
  * }}}
  *
  * A catalog-addressed index line (`catalog=` + `key=`, optional
  * `ckind=` when the catalog kind string differs from the
  * maintenance kind word) resolves its path by manifest lookup at
  * tick time — the fleet file names the LOGICAL index and each tick
  * maintains whatever epoch currently serves it, so an epoch cutover
  * never strands maintenance on a superseded store path.
  *
  * `meta` / `docs` are parquet paths: `meta` must carry `doc_id` +
  * the `ts` column (the pipeline's own landed metadata — expiry
  * selects ids strictly older than now − ttlDays); `docs` is the
  * current corpus an impact_bm25 refresh rebuilds from.
  */
object MaintenanceMain {

  private[graft] final case class LakeTarget(path: String, maxFiles: Int,
                                             targetBytes: Long)
  private[graft] final case class CatalogTarget(dir: String, keepEpochs: Int)
  private[graft] final case class Fleet(
      indexes: Seq[operators.Retention.Maintained],
      lakes: Seq[LakeTarget], catalogs: Seq[CatalogTarget])

  private def kindOf(s: String): operators.Retention.IndexKind = s match {
    case "raw_bm25"    => operators.Retention.RawBm25
    case "impact_bm25" => operators.Retention.ImpactBm25
    case "ivf"         => operators.Retention.Ivf
    case "dedup_sig"   => operators.Retention.DedupSig
    case "line_df"     => operators.Retention.LineDf
    case "phash"       => operators.Retention.Phash
    case other => throw new IllegalArgumentException(
      s"fleet manifest: unknown index kind '$other' " +
        "(want raw_bm25|impact_bm25|ivf|dedup_sig|line_df|phash)")
  }

  /** Parse the fleet manifest. Strict: every token after the type
    * word must be key=value, required keys must be present, unknown
    * keys throw. */
  private[graft] def parseFleet(spark: SparkSession, text: String): Fleet = {
    val lines = text.linesIterator.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).toSeq
    def kvs(line: String, toks: Seq[String], known: Set[String]): Map[String, String] = {
      val m = toks.map { t =>
        t.split("=", 2) match {
          case Array(k, v) if known.contains(k) => k -> v
          case Array(k, _) => throw new IllegalArgumentException(
            s"fleet manifest: unknown key '$k' in '$line'")
          case _ => throw new IllegalArgumentException(
            s"fleet manifest: malformed token '$t' in '$line' (want key=value)")
        }
      }.toMap
      if (m.size != toks.length) throw new IllegalArgumentException(
        s"fleet manifest: duplicate key in '$line'")
      m
    }
    def req(m: Map[String, String], k: String, line: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(
        s"fleet manifest: missing required key '$k' in '$line'"))
    val parsed = lines.map { line =>
      val toks = line.split("\\s+").toSeq
      toks.head match {
        case "index" =>
          val m = kvs(line, toks.tail, Set("name", "kind", "path", "meta",
            "ts", "ttlDays", "maxFiles", "driftEps", "docs",
            "catalog", "key", "ckind"))
          val kind = kindOf(req(m, "kind", line))
          if (kind == operators.Retention.ImpactBm25 && !m.contains("docs"))
            throw new IllegalArgumentException(
              s"fleet manifest: impact_bm25 needs docs=<corpus parquet> in '$line'")
          val ttl = req(m, "ttlDays", line).toInt
          // an index is addressed by raw path OR by catalog key —
          // catalog-addressed lines always maintain the CURRENTLY
          // SERVING epoch (the manifest lookup this tick resolves),
          // never a superseded store a stale path would name
          val path = (m.get("path"), m.get("catalog")) match {
            case (Some(p), None) => p
            case (None, Some(catDir)) =>
              val ckey = req(m, "key", line)
              val ckind = m.getOrElse("ckind", req(m, "kind", line))
              sources.Catalog.lookup(spark, catDir, ckind, ckey).map(_._1)
                .getOrElse(throw new IllegalArgumentException(
                  s"fleet manifest: catalog $catDir has no registration " +
                    s"for ($ckind, $ckey) in '$line'"))
            case (Some(_), Some(_)) => throw new IllegalArgumentException(
              s"fleet manifest: give path= OR catalog=+key=, not both, in '$line'")
            case (None, None) => throw new IllegalArgumentException(
              s"fleet manifest: missing required key 'path' " +
                s"(or catalog=+key=) in '$line'")
          }
          Left(operators.Retention.Maintained(
            name = req(m, "name", line), kind = kind,
            path = path,
            meta = spark.read.parquet(req(m, "meta", line)),
            tsCol = req(m, "ts", line),
            cutoff = date_sub(current_date(), ttl),
            maxFiles = m.get("maxFiles").map(_.toInt).getOrElse(1),
            driftEps = m.get("driftEps").map(_.toDouble),
            docs = m.get("docs").map(p => spark.read.parquet(p))))
        case "lake" =>
          val m = kvs(line, toks.tail, Set("path", "maxFiles", "targetMB"))
          Right(Left(LakeTarget(req(m, "path", line),
            m.get("maxFiles").map(_.toInt).getOrElse(1),
            m.get("targetMB").map(_.toLong * 1024 * 1024)
              .getOrElse(128L * 1024 * 1024))))
        case "catalog" =>
          val m = kvs(line, toks.tail, Set("dir", "keepEpochs"))
          Right(Right(CatalogTarget(req(m, "dir", line),
            m.get("keepEpochs").map(_.toInt).getOrElse(1))))
        case other => throw new IllegalArgumentException(
          s"fleet manifest: unknown resource type '$other' in '$line' " +
            "(want index|lake|catalog)")
      }
    }
    Fleet(parsed.collect { case Left(ix) => ix },
      parsed.collect { case Right(Left(l)) => l },
      parsed.collect { case Right(Right(c)) => c })
  }

  /** One maintenance tick over a parsed fleet — separated from main()
    * so a spec (or an embedding application) can drive it against a
    * scratch fleet with its own session. Returns the per-resource
    * outcomes; throws only on unexpected errors. */
  private[graft] def tick(spark: SparkSession, fleet: Fleet, cfg: GraftConfig,
                          metrics: Metrics): Map[String, String] = {
    import operators.Retention
    val sweep = Retention.retentionSweep(spark, fleet.indexes,
      minReclaim = cfg.sweepMinReclaim, maxReclaims = cfg.sweepMaxReclaims,
      metrics = Some(metrics))
    val lakes = fleet.lakes.map { l =>
      s"lake:${l.path}" -> Retention.lakeCompactionCycle(spark, l.path,
        l.maxFiles, l.targetBytes, Some(metrics)).toString
    }
    val cats = fleet.catalogs.map { c =>
      s"catalog:${c.dir}" -> {
        // checkpoint bounds the manifest listing; vacuum reclaims
        // superseded epochs. Both defer (normal) under a pin/lease.
        try {
          metrics.measure(s"catalog_checkpoint_${c.dir}") {
            sources.Catalog.checkpoint(spark, c.dir)
          }
          metrics.measure(s"catalog_vacuum_${c.dir}") {
            sources.Catalog.vacuum(spark, c.dir, c.keepEpochs)
          }
          "Swept"
        } catch {
          case _: sources.Lake.PinnedSnapshotException => "Deferred"
          case _: sources.Lake.ConcurrentMaintenanceException => "Deferred"
        }
      }
    }
    sweep.map { case (k, v) => s"index:$k" -> v.toString } ++ lakes ++ cats
  }

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.ambient
    val fleetPath = args.headOption
      .orElse(Option(cfg.fleetManifest).filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(
        "no fleet manifest: pass a path or set fleetManifest in graft.conf"))
    val outPath = if (args.length > 1) args(1) else "maintenance_metrics.jsonl"
    val spark = GraftSession.local(GraftSession.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    val metrics = new Metrics(spark)
    val ok = try {
      val fleet = parseFleet(spark,
        java.nio.file.Files.readString(java.nio.file.Paths.get(fleetPath)))
      val outcomes = tick(spark, fleet, cfg, metrics)
      // one stdout summary line (the cron log's grep target) + the
      // full task-metrics trail as the file artifact
      println(outcomes.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":"$v"""" }
        .mkString("""{"maintenance":{""", ",", "}}"))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
        metrics.asDataFrame.toJSON.collect().mkString("", "\n", "\n"))
      true
    } catch {
      case e: Throwable =>
        System.err.println(s"[maintenance] tick failed: ${e.getMessage}")
        false
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
