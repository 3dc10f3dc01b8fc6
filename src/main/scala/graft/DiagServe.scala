package graft

import org.apache.spark.sql.functions._

/** Dev-loop PHASE timer for the lifecycle serve entries — where inside
  * a 10-second gate does the time actually go (build? attach? append?
  * refresh? the serve loop?). `runMain graft.DiagServe [entry]`.
  * Diagnostic only, not part of the registry surface. */
object DiagServe {
  def main(args: Array[String]): Unit = {
    val which = if (args.nonEmpty) args(0) else "pq_adaptive"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.envCpus)
    // keep AQE from coalescing small-input/large-output stages (pair
    // joins explode AFTER the shuffle AQE sizes partitions by)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime} yield c - s).getOrElse(-1L)
        stages.add((si.stageId, si.name.takeWhile(_ != '\n').take(70), wall, si.numTasks.toLong))
      }
    })
    def phase[T](name: String)(body: => T): T = {
      stages.clear()
      val t0 = System.nanoTime()
      val r = body
      println(f"[diag] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      import scala.jdk.CollectionConverters._
      Thread.sleep(100)
      stages.asScala.toSeq.sortBy(-_._3).take(4).foreach { case (id, nm, wall, nt) =>
        println(f"[diag]     stage $id%4d wall=${wall / 1e3}%6.2fs tasks=$nt%3d  $nm")
      }
      r
    }
    (1 to 2).foreach { rep =>
      println(s"[diag] === $which rep$rep ===")
      which match {
        case "pq_adaptive" =>
          val all = Tables.embeddings(spark, sfDir)
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_pqad") { tmp =>
            phase("ivfWriteFrom")(operators.Similarity.ivfWriteFrom(all, tmp, 16))
            phase("pqAttach")(operators.Similarity.pqAttach(spark, tmp, 16, 32))
            phase("adaptive_serve")(
              operators.Similarity.annIvfPqAdaptive(spark, tmp, 5, 50, 2)
                .write.format("noop").mode("overwrite").save())
            spark.emptyDataFrame
          }
        case "opq_serve" =>
          val all = Tables.embeddings(spark, sfDir)
          val maxId = all.agg(max($"vec_id")).head().getLong(0)
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_opq") { tmp =>
            val cut = phase("prefixIvfWrite")(
              operators.Similarity.prefixIvfWrite(spark, sfDir, tmp, 16, maxId))
            phase("pqAttach(opq4)")(
              operators.Similarity.pqAttach(spark, tmp, 16, 32, opqIters = 4))
            phase("ivfAppend")(operators.Similarity.ivfAppend(
              spark, tmp, all.filter($"vec_id" > cut)))
            phase("pqRefresh")(operators.Similarity.pqRefresh(spark, tmp))
            phase("serve")(
              operators.Similarity.annIvfPqServe(spark, tmp)
                .write.format("noop").mode("overwrite").save())
            spark.emptyDataFrame
          }
        case "pq_rounds" =>
          val all = Tables.embeddings(spark, sfDir)
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_pqr") { tmp =>
            operators.Similarity.ivfWriteFrom(all, tmp, 16)
            operators.Similarity.pqAttach(spark, tmp, 16, 32)
            val ctx = phase("pqCtx")(operators.Similarity.pqCtx(spark, tmp))
            val panel = phase("panel_ckpt")(
              ctx.ivf.lists.filter(col("neighbor_id") < 50)
                .select(col("neighbor_id").as("vec_id"),
                  col("vc").as("embedding"), col("nc").as("norm"))
                .localCheckpoint())
            Seq(2, 4, 8, 16).foreach { w =>
              phase(s"serve_w$w")(
                operators.Similarity.annIvfPqServeOn(ctx, w, 128, 5, 50,
                  Some(panel), selfPanel = true).localCheckpoint())
            }
            phase("full_adaptive")(
              operators.Similarity.annIvfPqAdaptive(spark, tmp, 5, 50, 2)
                .write.format("noop").mode("overwrite").save())
            spark.emptyDataFrame
          }
        case "attach_phases" =>
          val all = Tables.embeddings(spark, sfDir)
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_att") { tmp =>
            operators.Similarity.ivfWriteFrom(all, tmp, 16)
            val live = phase("liveLists_ckpt")(
              operators.Similarity.liveLists(spark, tmp)
                .select(col("cell"), col("neighbor_id"),
                  col("vc").cast("array<float>").as("vc"), col("nc"))
                .localCheckpoint())
            val sample = phase("sample_collect")(
              live.orderBy(md5(col("neighbor_id").cast("string")), col("neighbor_id"))
                .limit(4096).select(col("vc")).collect()
                .map(_.getSeq[Float](0).toArray))
            phase("opqTrain4")(operators.Similarity.opqTrain(sample, 16, 4, 32, iters = 4))
            phase("pqCodebooks")(operators.Similarity.pqCodebooks(
              live.select(col("neighbor_id").as("vec_id"), col("vc").as("embedding")),
              16, 4, 32))
            phase("pqAttach_total")(operators.Similarity.pqAttach(spark, tmp, 16, 32, 4))
            spark.emptyDataFrame
          }
        case "phash" =>
          val ref = operators.Multimodal.bmpTable(spark, sfDir)
            .select(col("doc_id"), col("payload"))
          val neu = operators.Multimodal.bmpTwinTable(spark, sfDir)
          val cut = ref.agg(max(col("doc_id"))).head().getLong(0) * 7 / 10
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_ph") { tmp =>
            phase("phashIndexWrite70")(operators.Multimodal.phashIndexWrite(
              Tables.fanout(ref.filter(col("doc_id") <= cut)), tmp))
            phase("phashIndexAppend30")(operators.Multimodal.phashIndexAppend(
              Tables.fanout(ref.filter(col("doc_id") > cut)), tmp))
            phase("phashIndexDelete")(operators.Multimodal.phashIndexDelete(spark, tmp,
              ref.filter(col("doc_id") % 5 === 0).select(col("doc_id"))))
            phase("mmPhashServe")(operators.Multimodal.mmPhashServe(
              spark, tmp, Tables.fanout(neu))
              .write.format("noop").mode("overwrite").save())
            spark.emptyDataFrame
          }
        case "phash_micro" =>
          val ref = operators.Multimodal.bmpTable(spark, sfDir)
            .select(col("doc_id"), col("payload"))
          phase("ref_count")(println("[diag] n=" + ref.count()))
          phase("phash_noop")(
            operators.Multimodal.phashFrame(Tables.fanout(ref))
              .write.format("noop").mode("overwrite").save())
          phase("phash_noop2")(
            operators.Multimodal.phashFrame(Tables.fanout(ref))
              .write.format("noop").mode("overwrite").save())
          phase("phash_nofan_noop")(
            operators.Multimodal.phashFrame(ref)
              .write.format("noop").mode("overwrite").save())
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_phm") { tmp =>
            phase("full_write")(operators.Multimodal.phashIndexWrite(
              Tables.fanout(ref), tmp))
            spark.emptyDataFrame
          }
        case "bm25_delete" =>
          val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
          val cut = docs.agg(max(col("doc_id"))).head().getLong(0) * 7 / 10
          graft.sources.Lake.withScratchIndex(spark, "graft_diag_b25d") { tmp =>
            phase("writeRaw70")(operators.TextAnalysis.bm25WriteRaw(
              Tables.fanout(docs.filter(col("doc_id") <= cut)), tmp))
            phase("append30")(operators.TextAnalysis.bm25Append(
              Tables.fanout(docs.filter(col("doc_id") > cut)), tmp))
            phase("delete")(operators.TextAnalysis.bm25Delete(spark, tmp,
              docs.filter(col("doc_id") % 3 === 0).select(col("doc_id"))))
            phase("vacuum")(operators.TextAnalysis.bm25Vacuum(spark, tmp))
            phase("serveRaw")(operators.TextAnalysis.bm25ServeRaw(spark, tmp)
              .write.format("noop").mode("overwrite").save())
            spark.emptyDataFrame
          }
        case "fanout_micro" =>
          val ref = operators.Multimodal.bmpTable(spark, sfDir)
            .select(col("doc_id"), col("payload"))
          phase("warm")(ref.count())
          phase("fanout_noop")(Tables.fanout(ref)
            .write.format("noop").mode("overwrite").save())
          phase("fanout_noop2")(Tables.fanout(ref)
            .write.format("noop").mode("overwrite").save())
          phase("fanout_phash_noop")(
            operators.Multimodal.phashFrame(Tables.fanout(ref))
              .write.format("noop").mode("overwrite").save())
          phase("fanout_phash_explode_noop")(
            operators.Multimodal.phashFrame(Tables.fanout(ref))
              .select(col("doc_id"), col("bands"), posexplode(col("bands")))
              .write.format("noop").mode("overwrite").save())
          phase("fanout_phash_explode_repart")(
            operators.Multimodal.phashFrame(Tables.fanout(ref))
              .select(col("doc_id"), col("bands"), posexplode(col("bands")))
              .repartition(col("pos"))
              .write.format("noop").mode("overwrite").save())
        case "phash_plan" =>
          val ref = operators.Multimodal.bmpTable(spark, sfDir)
            .select(col("doc_id"), col("payload"))
          val bmp = Tables.fanout(ref)
          val df = operators.Multimodal.phashFrame(bmp)
            .select(col("doc_id"), col("bands"), posexplode(col("bands")))
            .select(pmod(xxhash64(col("pos"), col("col")), lit(16)).cast("int").as("bucket"),
              col("pos").as("band_idx"), col("col").as("band_val"),
              col("doc_id"), col("bands"), lit("x").as("batch_id"))
            .repartition(col("bucket"))
          println(df.queryExecution.executedPlan.toString.take(8000))
          phase("bands_noop")(df.write.format("noop").mode("overwrite").save())
        case other => sys.error(s"unknown diag $other")
      }
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
