package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The build-once artifact layer: a key follows what its artifact was
  * derived from, a build runs once per key and never re-enters its own
  * key, and no second copy of the mechanism (or of the session config)
  * grows back. */
class ArtifactsSpec extends AnyFunSuite {
  import TestSpark._

  test("a corpus rewritten inside the session rebuilds value and directory artifacts; an untouched one does not") {
    val s = spark
    import s.implicits._
    val lake = Files.createTempDirectory("graft_artifacts_rewrite").toString
    def land(ids: Range): Unit =
      ids.map(i => (i.toLong, s"alpha$i beta$i gamma$i delta epsilon " +
          (if (i % 2 == 0) "order" else "spark")))
        .toDF("doc_id", "text").write.mode("overwrite").parquet(s"$lake/documents.parquet")
    // the value artifact (the per-document features) and the directory
    // artifact (the full-corpus BM25 impact index) each answer with the
    // doc ids they were built from, and so does every curation step
    // that reads the features
    def ids(df: DataFrame): Set[Long] =
      df.select($"doc_id").distinct().as[Long].collect().toSet.filter(_ < operators.NearDup.BigOffset)
    def featureIds: Set[Long] = ids(operators.DocFeatures.forDir(s, lake))
    def consumerIds: Seq[Set[Long]] = Seq(
      ids(operators.NearDup.dedupKeepBest(s, lake)),
      ids(operators.TextAnalysis.nbQualityClassify(s, lake)),
      ids(operators.TextAnalysis.dsirSelect(s, lake)),
      ids(operators.TextAnalysis.perplexityScore(s, lake)),
      ids(operators.TextAnalysis.qualityScore(s, lake)))
    def indexIds: Set[Long] = operators.TextAnalysis.bm25ServeFrom(s,
      operators.TextAnalysis.bm25ImpactTemplate(s, lake, None), k = 10, qMod = 1)
      .select($"doc_id").distinct().as[Long].collect().toSet
    // builds per kind over this lake since the last call, from the lineage
    def built(): Map[Artifacts.Kind, Int] =
      Artifacts.drain().filter(_.key.dir == lake).groupBy(_.key.kind).map {
        case (k, bs) => k -> bs.size }
    val once = Map[Artifacts.Kind, Int](Artifacts.DocFeatures -> 1,
      Artifacts.Bm25ImpactTemplate -> 1)
    Artifacts.drain()

    land(0 until 6)
    assert(featureIds == (0L until 6L).toSet && indexIds == (0L until 6L).toSet)
    assert(consumerIds.forall(_ == (0L until 6L).toSet), consumerIds)
    assert(built().filter(kb => once.contains(kb._1)) == once)

    land(100 until 106)
    assert(featureIds == (100L until 106L).toSet,
      "a rewritten corpus must not be served from the stale value artifact")
    assert(consumerIds.forall(_ == (100L until 106L).toSet),
      s"every feature consumer serves the rewritten corpus: $consumerIds")
    assert(indexIds == (100L until 106L).toSet,
      "a rewritten corpus must not be served from the stale index directory")
    assert(built().filter(kb => once.contains(kb._1)) == once,
      "the rewrite rebuilds each artifact exactly once")

    assert(featureIds == (100L until 106L).toSet && indexIds == (100L until 106L).toSet)
    val again = built()
    assert(again.isEmpty, s"an untouched corpus must not rebuild: $again")
    val fs = new org.apache.hadoop.fs.Path(lake).getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
  }

  test("same-key reentry fails loudly for both shapes; the key still builds afterwards") {
    val s = spark
    val dirErr = intercept[IllegalArgumentException] {
      Artifacts.directory(s, Artifacts.LineDfTemplate, "reentryspec") { _ =>
        Artifacts.directory(s, Artifacts.LineDfTemplate, "reentryspec")(_ => ())
      }
    }
    assert(dirErr.getMessage.contains("same-key reentry"))
    val valErr = intercept[IllegalArgumentException] {
      Artifacts.value(s, Artifacts.DupGroups, "reentryspec") {
        Artifacts.value(s, Artifacts.DupGroups, "reentryspec")("inner")
      }
    }
    assert(valErr.getMessage.contains("same-key reentry"))
    // a failed build caches nothing and leaves no in-flight mark behind
    assert(Artifacts.value(s, Artifacts.DupGroups, "reentryspec")("built") == "built")
    assert(Artifacts.value(s, Artifacts.DupGroups, "reentryspec")("rebuilt") == "built")
  }

  test("drift guard: one session factory, one artifact layer") {
    val sources: Seq[Path] = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val builders = sources.filter(p => p.getFileName.toString != "GraftSession.scala" &&
      "SparkSession\\s*\\.\\s*builder".r.findFirstIn(Files.readString(p)).isDefined)
    assert(builders.isEmpty,
      s"build sessions through graft.GraftSession.local, not by hand: ${builders.mkString(", ")}")
    val retired = Seq("NearDup.Shared", "sharedIndex", "MemoLog")
    val mentions = for (p <- sources; t <- retired if Files.readString(p).contains(t))
      yield s"$p mentions $t"
    assert(mentions.isEmpty,
      s"session artifacts go through graft.Artifacts: ${mentions.mkString("; ")}")
  }
}
