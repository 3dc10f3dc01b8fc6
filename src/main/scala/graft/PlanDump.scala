package graft

import org.apache.spark.sql.functions._

/** Plan-evidence dumper for the serve/write CORES that the registry
  * entries wrap in lifecycles and localCheckpoints (their registry
  * explains are ExistingRDD scans, so the interesting plans must be
  * dumped from the inner frames). `runMain graft.PlanDump` prints one
  * `==== name ====` block per core; plans/r17 committees the split
  * files. The bands-write frame replicates phashIndexAppendRaw's
  * construction line-for-line (the write command itself cannot be
  * explained). Diagnostic only, not part of the library surface. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // 1. the mm_phash bands-write frame (phashIndexAppendRaw's plan up
    // to the write command) — the r17 posexplode_outer fix lives here
    println("==== mm_phash_bands_write ====")
    val ref = operators.Multimodal.bmpTable(spark, sfDir)
      .select($"doc_id", $"payload")
    operators.Multimodal.phashBandsWriteFrame(Tables.fanout(ref), 16, "BATCH")
      .explain("formatted")

    // 2. the persisted-index serve cores over a scratch index
    val all = Tables.embeddings(spark, sfDir)
    graft.sources.Lake.withScratchIndex(spark, "graft_plandump_ivf") { tmp =>
      operators.Similarity.ivfWrite(spark, sfDir, tmp)
      println("==== ann_ivf_serve_core ====")
      operators.Similarity.annIvfServe(spark, tmp, nprobe = 10,
        shortlist = Some(32)).explain("formatted")
      operators.Similarity.pqAttach(spark, tmp)
      println("==== ann_ivf_pq_serve_core ====")
      operators.Similarity.annIvfPqServe(spark, tmp).explain("formatted")
      spark.emptyDataFrame
    }

    // 3. the raw-BM25 serve core (unchanged by r17 — evidence that the
    // lifecycle optimizations did not touch what the query computes)
    val docs = Tables.documents(spark, sfDir).select($"doc_id", $"text")
    graft.sources.Lake.withScratchIndex(spark, "graft_plandump_bm25") { tmp =>
      operators.TextAnalysis.bm25WriteRaw(Tables.fanout(docs), tmp)
      println("==== bm25_serve_raw_core ====")
      operators.TextAnalysis.bm25ServeRaw(spark, tmp).explain("formatted")
      spark.emptyDataFrame
    }

    // 4. the decontaminate BUILD core (the broadcast-semi-join plan
    // the re-pointed PlanAuditSpec pin audits)
    println("==== decontaminate_core ====")
    val grams = operators.Govern.docGrams(docs)
    operators.Govern.decontScore(
      grams.filter($"doc_id" % operators.Govern.BenchMod =!= 0),
      grams.filter($"doc_id" % operators.Govern.BenchMod === 0)
        .select($"gh").distinct()).explain("formatted")

    spark.stop()
  }
}
