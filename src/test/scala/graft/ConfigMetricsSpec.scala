package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The two operational surfaces round 11 added: the typed config
  * loader (config.yaml's analogue) and the per-operation metrics
  * capture (the CloudWatch-emission analogue Bench consumes). */
class ConfigMetricsSpec extends AnyFunSuite {
  import TestSpark._

  test("config: defaults, overrides, both separators, strict unknown keys") {
    assert(GraftConfig.parse("") == GraftConfig())
    val c = GraftConfig.parse(
      "# tuned\ndfCap: 7\ngapMinutes = 5\nsinkInitialDelayMs: 10\n" +
        "jaccardThreshold: 0.7\nmaxHamming: 4\ncatalogDir: /idx/catalog\n\n")
    assert(c.dfCap == 7 && c.gapMinutes == 5 && c.sinkInitialDelayMs == 10L)
    assert(c.jaccardThreshold == 0.7 && c.maxHamming == 4)
    assert(c.catalogDir == "/idx/catalog")
    assert(c.k == GraftConfig().k, "untouched keys keep their defaults")
    // a typo'd key must fail loudly, not silently fall back
    intercept[IllegalArgumentException](GraftConfig.parse("dfcap: 3"))
    intercept[Exception](GraftConfig.parse("dfCap: seven"))
    intercept[IllegalArgumentException](GraftConfig.parse("justakey"))
    // the checked-in file mirrors the library defaults, so the gate
    // runs identically with or without it (sbt cwd = repo root)
    assert(GraftConfig.load("graft.conf") == GraftConfig(),
      "graft.conf drifted from the library defaults")
  }

  test("config override drives the operator: a tightened dfCap drops boilerplate terms") {
    val s = spark
    import s.implicits._
    val tuned = GraftConfig.parse("dfCap: 2")
    val docs = Seq(
      0L -> "b1 b2 b3 alpha beta gamma",
      1L -> "b1 b2 b3 alpha beta delta",
      2L -> "b1 b2 b3 zeta eta theta",
      3L -> "b1 b2 b3").toDF("doc_id", "text")
    def hits(dfCap: Int): Set[Long] =
      operators.TextAnalysis.bm25Of(docs, k = 10, dfCap = dfCap, qMod = 1)
        .filter($"query_id" === 0L).collect().map(_.getAs[Long]("doc_id")).toSet
    // default config retrieves the boilerplate-only doc; the tuned
    // cap drops it — same retune path a deployment takes via the file
    assert(hits(GraftConfig().dfCap).contains(3L))
    assert(!hits(tuned.dfCap).contains(3L))
  }

  test("config catalogDir upgrades a directory artifact to the durable catalog") {
    val s = spark
    import s.implicits._
    val cat = java.nio.file.Files.createTempDirectory("graft_cfg_cat").toString
    val docs = (0 until 12).map(i => (i.toLong, s"a$i b${i % 2}")).toDF("doc_id", "text")
    var builds = 0
    def shared(build: String => Unit): String =
      Artifacts.directory(s, Artifacts.Bm25ImpactTemplate, "cfgspec",
        catalogDir = Some(cat))(build)
    // the catalog key: kind, corpus dir and params of the artifact key
    val key = "tmpl:bm25impact:cfgspec"
    // with a catalog configured, the shared index lands in its store
    // and registers in its manifest instead of session temp space
    val dir = shared { d =>
      builds += 1
      operators.TextAnalysis.bm25WriteImpactFrom(docs, d)
    }
    assert(builds == 1 && dir.startsWith(cat),
      s"a configured catalog must own the shared index dir, got $dir")
    assert(graft.sources.Catalog.lookup(s, cat, "shared", key)
      .exists(_._1 == dir), "the build must register in the manifest")
    // the session memo short-circuits the manifest on repeat calls
    val again = shared { _ => fail("memoized shared index must not rebuild") }
    assert(again == dir)
    // and a separate process (no session memo) resolves by manifest
    val cross = graft.sources.Catalog.resolveOrBuild(s, cat, "shared",
      key) { _ => fail("cross-process resolve must not rebuild") }
    assert(cross == dir)
    val fs = new org.apache.hadoop.fs.Path(cat)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(cat), true)
  }

  test("metrics: a measured scope records wall/cpu/rows/shuffle; DataFrame surface") {
    val s = spark
    val m = new Metrics(s)
    val groups = m.measure("probe") {
      Tables.lineitem(s, sf).groupBy(col("l_returnflag")).count().collect().length
    }
    assert(groups > 0)
    val op = m.snapshot.find(_.name == "probe").get
    assert(op.tasks > 0, "no tasks attributed to the scope")
    assert(op.inputRows > 0, "scan rows not captured")
    assert(op.shuffleWriteBytes > 0, "the groupBy's shuffle not captured")
    assert(op.wallSec > 0 && op.cpuSec >= 0)
    val df = m.asDataFrame
    assert(df.filter(col("name") === "probe").count() == 1,
      "metrics row must surface through the DataFrame sink path")
    // scopes accumulate — a second operation appends a second row
    m.measure("probe2")(Tables.lineitem(s, sf).count())
    assert(m.asDataFrame.count() == 2)
    spark.catalog.clearCache()
  }

  test("maintenance main: one tick drives the fleet manifest end-to-end against a scratch fleet") {
    val s = spark
    import s.implicits._
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"graft_maint_$tag").toString
    // an index member with real dead weight: half the docs expired
    val idx = tmp("idx")
    val docs = (0 until 20).map(i =>
      (i.toLong, s"alpha$i beta${i % 3} gamma${i % 5} word$i")).toDF("doc_id", "text")
    operators.TextAnalysis.bm25WriteRaw(docs, idx)
    val metaDir = tmp("meta")
    (0 until 20).map(i => (i.toLong,
        java.sql.Date.valueOf(if (i < 10) "2025-01-01" else "2026-08-01")))
      .toDF("doc_id", "ingested")
      .write.mode("overwrite").parquet(metaDir)
    // a fragmented lake member (two files, maxFiles=1 → compacts)
    val lake = tmp("lake")
    docs.coalesce(1).write.mode("overwrite").parquet(lake)
    docs.coalesce(1).write.mode("append").parquet(lake)
    // a catalog member with a superseded epoch to reclaim
    val cat = tmp("cat")
    sources.Catalog.register(s, cat, "t", "k", s"$cat/store/t/a", "v1")
    sources.Catalog.register(s, cat, "t", "k", s"$cat/store/t/b", "v2")
    val manifest =
      s"""# scratch fleet
         |index name=docs kind=raw_bm25 path=$idx meta=$metaDir ts=ingested ttlDays=365 maxFiles=1000
         |lake path=$lake maxFiles=1
         |catalog dir=$cat keepEpochs=1
         |""".stripMargin
    val fleet = MaintenanceMain.parseFleet(s, manifest)
    assert(fleet.indexes.length == 1 && fleet.lakes.length == 1 &&
      fleet.catalogs.length == 1)
    val m = new Metrics(s)
    val outcomes = MaintenanceMain.tick(s, fleet, GraftConfig(), m)
    assert(outcomes("index:docs") == "Reclaimed", s"$outcomes")
    assert(outcomes(s"lake:$lake") == "Reclaimed", s"$outcomes")
    assert(outcomes(s"catalog:$cat") == "Swept", s"$outcomes")
    // the tick really maintained: expired docs out + physically clean,
    // lake repacked, catalog's superseded epoch gone
    assert(graft.sources.IndexLayout.RawBm25.reclaimableFraction(s, idx) == 0.0)
    assert(operators.TextAnalysis.bm25ServeRaw(s, idx, qMod = 1)
      .filter($"doc_id" < 10).count() == 0, "expired docs must not serve")
    assert(new java.io.File(lake).listFiles()
      .count(_.getName.endsWith(".parquet")) == 1, "lake must be repacked")
    assert(sources.Catalog.entries(s, cat).count() == 1, "loser epoch must be vacuumed")
    // the operational trail: every phase is a named metrics scope
    val scopes = m.snapshot.map(_.name)
    assert(scopes.exists(_.startsWith("sweep_expire_docs")) &&
      scopes.exists(_.startsWith("sweep_reclaim_docs")) &&
      scopes.contains("lake_compaction") &&
      scopes.exists(_.startsWith("catalog_vacuum")), s"scopes: $scopes")
    // a second tick converges: everything clean → Skipped/Swept
    val out2 = MaintenanceMain.tick(s, fleet, GraftConfig(), new Metrics(s))
    assert(out2("index:docs") == "Skipped" && out2(s"lake:$lake") == "Skipped",
      s"$out2")
    // strict manifest: unknown kind / key / type and a docs-less
    // impact_bm25 all fail loudly
    intercept[IllegalArgumentException](MaintenanceMain.parseFleet(s,
      s"index name=x kind=btree path=$idx meta=$metaDir ts=t ttlDays=1"))
    intercept[IllegalArgumentException](MaintenanceMain.parseFleet(s,
      s"index name=x kind=ivf path=$idx meta=$metaDir ts=t ttlDays=1 nope=3"))
    intercept[IllegalArgumentException](MaintenanceMain.parseFleet(s,
      s"widget path=$idx"))
    intercept[IllegalArgumentException](MaintenanceMain.parseFleet(s,
      s"index name=x kind=impact_bm25 path=$idx meta=$metaDir ts=t ttlDays=1"))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    Seq(idx, metaDir, lake, cat).foreach(p =>
      fs.delete(new org.apache.hadoop.fs.Path(p), true))
    spark.catalog.clearCache()
  }
}
