package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale claims in SURVEY §5 as tests.
  * Each operator's plan must have the shape the design says it has —
  * scan-only ops must not shuffle, broadcast-designed joins must
  * broadcast, and scans must prune to the columns the op needs. */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def executedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.flatMap(collectAll)

  private def countShuffles(df: DataFrame): Int =
    collectAll(executedPlan(df)).count(_.isInstanceOf[ShuffleExchangeLike])

  private def countBroadcasts(df: DataFrame): Int =
    collectAll(executedPlan(df)).count(_.isInstanceOf[BroadcastExchangeLike])

  test("scan-parallel ops have zero exchanges: pii_redact, sample_split, stratified_sample, topic_classify") {
    Seq(
      operators.Govern.piiRedact(spark, sf),
      operators.Govern.sampleSplit(spark, sf),
      operators.Govern.stratifiedSample(spark, sf),
      operators.TextAnalysis.topicClassify(spark, sf)
    ).foreach { df =>
      assert(countShuffles(df) == 0, s"expected shuffle-free plan:\n${executedPlan(df)}")
      assert(countBroadcasts(df) == 0)
    }
  }

  test("per-row text ops run entirely inside whole-stage codegen (no interpreted project/filter)") {
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, WholeStageCodegenExec}
    // the scan-speed block: any ProjectExec/FilterExec OUTSIDE a
    // WholeStageCodegen span means an expression fell out of codegen
    // (a non-codegen Expression, a fallback) and the op pays the
    // interpreted-row path at 100 TB scan scale. Nodes directly inside
    // a codegen span are compiled; an InputAdapter ENDS the span, so
    // the lint resumes below it — lower stages are linted too, not
    // skipped with the whole subtree.
    def inSpan(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case i: InputAdapter => bare(i.child)
      case other => other.children.flatMap(inSpan)
    }
    def bare(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = p match {
      case w: WholeStageCodegenExec => w.children.flatMap(inSpan)
      case x @ (_: ProjectExec | _: FilterExec) =>
        x.getClass.getSimpleName +: x.children.flatMap(bare)
      case other => other.children.flatMap(bare)
    }
    Seq(
      operators.TextAnalysis.qualityScore(spark, sf),
      operators.TextAnalysis.tokenCount(spark, sf),
      operators.TextAnalysis.langId(spark, sf),
      operators.Govern.piiRedact(spark, sf)
    ).foreach { df =>
      val plan = executedPlan(df)
      assert(collectAll(plan).exists(_.isInstanceOf[WholeStageCodegenExec]),
        s"no codegen span at all:\n$plan")
      assert(bare(plan).isEmpty,
        s"interpreted ${bare(plan).mkString(",")} outside codegen:\n$plan")
    }
  }

  test("doc_chunk, mm_resize, mm_frame_sample, embedding_quantize are exchange-free per-row pipelines") {
    Seq(
      operators.TextAnalysis.docChunk(spark, sf),
      operators.Multimodal.mmResize(spark, sf),
      operators.Multimodal.mmFrameSample(spark, sf),
      operators.Similarity.embeddingQuantize(spark, sf)
    ).foreach { df =>
      assert(countShuffles(df) == 0, s"expected shuffle-free plan:\n${executedPlan(df)}")
      assert(countBroadcasts(df) == 0)
    }
  }

  test("mixture_sample broadcasts the per-language rates, never shuffles the corpus") {
    val df = operators.Govern.mixtureSample(spark, sf)
    assert(countBroadcasts(df) == 1, s"plan:\n${executedPlan(df)}")
    // the only shuffle is the 20-group rate aggregate on the build side
    assert(countShuffles(df) <= 1, s"plan:\n${executedPlan(df)}")
  }

  test("decontaminate core (pre-memo) broadcasts the benchmark gram set, never the corpus") {
    import org.apache.spark.sql.functions.col
    // the registry's decontaminate returns a memoized CHECKPOINT scan
    // (r16 opt), so the broadcast-semi-join guarantee is pinned on the
    // UNCACHED build plan — the exact frames the memo's builder joins
    val grams = operators.Govern.docGrams(
      Tables.documents(spark, sf).select(col("doc_id"), col("text")))
    val df = operators.Govern.decontScore(
      grams.filter(col("doc_id") % operators.Govern.BenchMod =!= 0),
      grams.filter(col("doc_id") % operators.Govern.BenchMod === 0)
        .select(col("gh")).distinct())
    assert(countBroadcasts(df) == 1, s"plan:\n${executedPlan(df)}")
  }

  test("null_skew_join: null keys split off structurally — scan-local branch, nulls never reach the join") {
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = operators.Skew.nullSkewJoin(spark, sf)
    val plan = executedPlan(df)
    val union = collectAll(plan).collectFirst { case u: UnionExec => u }
    assert(union.nonEmpty, s"expected the matched ∪ nulls union:\n$plan")
    def hasJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      collectAll(p).exists(_.isInstanceOf[BaseJoinExec])
    val (joinSide, nullSide) = union.get.children.partition(hasJoin)
    assert(joinSide.size == 1 && nullSide.size == 1, s"plan:\n$plan")
    // the null branch is a scan-local filter — no exchange, no join
    assert(!collectAll(nullSide.head).exists(_.isInstanceOf[ShuffleExchangeLike]),
      s"null branch must never shuffle:\n$plan")
    // the join's probe side drops nulls before any exchange
    assert(joinSide.head.toString.contains("isnotnull"),
      s"join input must filter null keys:\n$plan")
  }

  test("q5 star join is all-broadcast: the fact table only shuffles for the final agg") {
    val df = operators.Analytics.q5LocalSupplier(spark, sf)
    assert(countBroadcasts(df) >= 4, s"plan:\n${executedPlan(df)}")
  }

  test("column pruning reaches the scan: pii_redact reads only (doc_id, text)") {
    val scans = executedPlan(operators.Govern.piiRedact(spark, sf))
      .collectLeaves()
      .map(_.toString)
    assert(scans.nonEmpty)
    assert(scans.forall(s => s.contains("doc_id") && !s.contains("n_chars")),
      scans.mkString("\n"))
  }

  test("value_histogram is one two-phase hash aggregate: a single shuffle") {
    val df = operators.Analytics.valueHistogram(spark, sf)
    assert(countShuffles(df) == 1, s"plan:\n${executedPlan(df)}")
    val hashAggs = collectAll(executedPlan(df))
      .count(_.getClass.getSimpleName.contains("HashAggregate"))
    assert(hashAggs == 2, s"expected partial+final HashAggregate:\n${executedPlan(df)}")
  }

  test("pack_sequences shuffles once for the shard window, once for the agg at most") {
    val df = operators.Govern.packSequences(spark, sf)
    assert(countShuffles(df) <= 2, s"plan:\n${executedPlan(df)}")
  }

  test("multi-valued membership filters are scan-parallel: zero exchanges") {
    Seq(
      operators.Multivalue.authorSearch(spark, sf),
      operators.Multivalue.jsonPathFilter(spark, sf),
      operators.Multivalue.jsonContainment(spark, sf)
    ).foreach { df =>
      assert(countShuffles(df) == 0, s"expected shuffle-free plan:\n${executedPlan(df)}")
      assert(countBroadcasts(df) == 0)
    }
  }

  test("embedding dedup plans contain no cartesian product / broadcast nested loop") {
    Seq(
      operators.Similarity.embeddingDedup(spark, sf),
      operators.Similarity.embeddingDedupLsh(spark, sf)
    ).foreach { df =>
      val nodes = collectAll(executedPlan(df)).map(_.getClass.getSimpleName)
      assert(!nodes.exists(n => n.contains("CartesianProduct") ||
        n.contains("BroadcastNestedLoop")),
        s"all-pairs must be block-partitioned, not cartesian:\n${executedPlan(df)}")
    }
  }

  test("vocab_build has no single-partition ordered window (banded rank)") {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val df = operators.TextAnalysis.vocabBuild(spark, sf)
    val plan = executedPlan(df)
    val windows = collectAll(plan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected a per-band window:\n$plan")
    windows.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"single-partition ordered window:\n$plan"))
    collectAll(plan).collect { case w: WindowGroupLimitExec => w }.foreach(w =>
      assert(w.partitionSpec.nonEmpty, s"single-partition group limit:\n$plan"))
  }

  test("dedup_keep_best argmax is a hash aggregate — no window, no sort-based agg") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    val df = operators.NearDup.dedupKeepBest(spark, sf)
    val plan = executedPlan(df)
    val nodes = collectAll(plan)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]),
      s"keeper selection must be hash aggregates, not a window rank:\n$plan")
    // the two-step argmax must stay in HashAggregateExec; the one-pass
    // max(struct(...)) / max_by(_, struct(...)) forms silently degrade
    // to SortAggregate (struct buffers aren't hash-aggregable) and
    // re-sort every partition
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]),
      s"argmax must not be a sort-based aggregate:\n$plan")
    assert(!nodes.exists(_.isInstanceOf[ObjectHashAggregateExec]),
      s"argmax should be plain HashAggregate:\n$plan")
    spark.catalog.clearCache()
  }

  test("corpus_shard has no single-partition ordered window (banded rank)") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = operators.Govern.corpusShard(spark, sf)
    val plan = executedPlan(df)
    val windows = collectAll(plan).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, s"expected the per-(shard, band) window:\n$plan")
    windows.foreach(w =>
      assert(w.partitionSpec.size == 2,
        s"rank window must partition by (shard, band), not by shard alone:\n$plan"))
  }

  test("tfidf_terms df join carries no broadcast hint (AQE decides; only the 1-row corpus-size agg is hinted)") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = operators.TextAnalysis.tfidfTerms(spark, sf)
    // exactly one hint in the analyzed plan: the scalar n_docs cross
    // join (always safe). The vocabulary (token, df) join must be
    // UNhinted so it can degrade to a shuffle join at scale.
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.size == 1, s"expected only the n_docs scalar hint:\n${df.queryExecution.analyzed}")
    // ...and at sf0.1 AQE still picks broadcast for the small vocab
    assert(countBroadcasts(df) >= 1, s"plan:\n${executedPlan(df)}")
  }

  test("registry-wide plan lint: crosses, sort-aggs and single-partition shuffles only where declared") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // 1-row-scalar / bounded-query-side crosses (broadcast the tiny
    // side by design): ann query sides, centroid tables, the n_docs /
    // total_occ scalars
    // scd2_apply's cross is the 1-row (min,max) boundary scalar;
    // stream_bm25's is bm25's 1-row (n_docs, am) stats scalar;
    // ann_ivf_rerank's is the 16-row centroid routing table
    val crossOk = Set("ann_bruteforce", "ann_truncated", "ann_truncated_rerank",
      "ann_ivf", "ann_ivf_rerank",
      "knn_classify", "knn_classify_ivf", "stats_prune",
      "tfidf_terms", "vocab_build", "perplexity_score", "zorder_layout",
      "bm25_retrieve", "bpe_pair_counts", "bpe_train_merges",
      "scd2_apply", "stream_bm25", "stream_scd2_apply",
      "hybrid_retrieve", "drift_report", "bm25_append",
      // hybrid_serve's cross is annIvfServe's 16-row centroid routing
      // (the shared-index serve returns a live plan, so the lint sees it)
      // ann_ivf_pq / ann_ivf_opq share the same 16-row centroid
      // routing cross
      "hybrid_serve", "ann_ivf_pq", "ann_ivf_opq",
      // the NB classifier's crosses are the 2-class x dim model grid
      // (<= 64-row build side), the 1-row train-doc-count scalar and
      // the 1-row prior pair — all metadata-sized by construction
      "nb_quality_classify", "stream_quality_classify",
      // the calibration sweep's crosses are the band-offset inequality
      // self-join (vocab_build's pattern — bounded band aggregate on
      // the build side) and the 1-row (totk, totd) scalar
      "nb_quality_calibrate",
      // curation_audit composes the NB scorer, so it inherits exactly
      // the classifier's declared scalar crosses (prior pair, pwide)
      "curation_audit",
      // the ccnet family inherits perplexity_score's 1-row (N, V)
      // scalar cross; the stale/stream serves join the same scalar
      // from the frozen-LM path
      "ccnet_buckets", "ccnet_stale_serve", "stream_ccnet_bucket",
      // curriculum_order: perplexity's (N, V) scalar plus the banded
      // two-pass rank's ≤ bands·256-row offset inequality self-join
      // (corpus_shard's declared pattern)
      "curriculum_order",
      // mixture_allocate: the 1-row Σw total and 1-row leftover-seat
      // scalars over the lang-cardinality share table
      "mixture_allocate",
      // nb_stale_serve scores with the frozen NB model — the
      // classifier's declared scalar crosses (model grid, prior pair,
      // pwide); stream_curation_audit composes NB + DSIR scorers and
      // inherits the same bounded set
      "nb_stale_serve", "stream_curation_audit",
      // kn_bigram_score / kn_stale_serve: perplexity_score's posture —
      // the 1-row (btypes, n1, n2[, ctypes]) LM-scalar broadcast cross
      "kn_bigram_score", "kn_stale_serve",
      // the trigram family's 1-row discount/type-total scalar cross —
      // same class, one LM order up
      "kn_trigram_score", "kn_trigram_stale_serve",
      // kn_append / stream_kn_append serve C21e's scoring joins from
      // the persisted store — the same 1-row LM-scalar broadcast cross
      "kn_append", "stream_kn_append",
      // hard_negatives composes the C23 retrieval plan — bm25's
      // declared 1-row (n_docs, am) stats scalar cross
      "hard_negatives",
      // lsh_diversity_sample: mixture_allocate's posture — the 1-row
      // Σ√size and leftover-seat scalars over the ≤2^bits cell table
      "lsh_diversity_sample",
      // source_overlap / stream_source_overlap: the S×S source-label
      // pair cross over the bounded comparison panel (S = #sources,
      // ≤64 on the gate data)
      "source_overlap", "stream_source_overlap")
    // k-bounded-group max_by assigns: the sort is by grouping key with
    // map-side partial agg — benign, unlike cluster-sized groups
    val sortAggOk = Set("ann_ivf", "resample_fill", "stream_dedup")
    // 1-row global scalar aggregates (tfidf's n_docs, vocab's
    // total_occ) legitimately collapse to one partition for the final
    // combine — the shuffled payload is one row per map task
    // zorder_layout adds a second bounded single-partition case: the
    // band-offset cumulative window runs over the ≤256-row per-band
    // count AGGREGATE, never over data-sized input
    // compaction_plan's case is the same: its band-offset cumsum runs
    // over the per-band total AGGREGATE (inventory/1000 rows)
    // stats_prune: the 1-row predicate-bounds aggregate over the
    // metadata-sized layout — same bounded scalar-combine class
    // bm25_retrieve: same class — the (n_docs, am) scalar aggregate is
    // its only single-partition combine and its only cross (broadcast)
    // bpe_pair_counts shares vocab_build's banded core and whitelist basis
    // scd2_apply: the 1-row (min,max) event-time boundary aggregate —
    // the same bounded scalar-combine class
    // nb_quality_classify / stream_quality_classify: the 1-row
    // train-doc-count and 2-row prior-pair global aggregates — the
    // same bounded scalar-combine class
    val singleOk = Set("tfidf_terms", "vocab_build", "perplexity_score",
      "zorder_layout", "compaction_plan", "stats_prune", "bm25_retrieve",
      "bpe_pair_counts", "bpe_train_merges", "scd2_apply",
      "stream_scd2_apply", "hybrid_retrieve",
      "approx_topk", "drift_report", "bm25_append",
      "nb_quality_classify", "stream_quality_classify",
      // nb_quality_calibrate: the same classifier scalars plus the
      // 1-row (totk, totd) sweep-totals aggregate; curation_audit
      // inherits the NB scorer's scalar combines
      "nb_quality_calibrate", "curation_audit",
      // ccnet_buckets / curriculum_order: perplexity's 1-row (N, V)
      // scalar combine (the stale/stream ccnet serves freeze the LM
      // eagerly, so their served plans carry no global agg)
      "ccnet_buckets", "curriculum_order",
      // mixture_allocate: the 1-row Σw and leftover aggregates;
      // nb_stale_serve / stream_curation_audit: the NB/DSIR scalar
      // combines (train-doc count, prior pair, eps histogram scalars)
      "mixture_allocate", "nb_stale_serve", "stream_curation_audit",
      // kn_bigram_score / kn_stale_serve: the 1-row LM-scalar combine —
      // perplexity_score's declared class
      "kn_bigram_score", "kn_stale_serve",
      // the trigram family's 1-row LM-scalar combines (both discount
      // levels + type totals) — same declared class
      "kn_trigram_score", "kn_trigram_stale_serve",
      // kn_append / stream_kn_append: the same 1-row LM-scalar combine
      // over the merged store (plus the commit-list collect)
      "kn_append", "stream_kn_append",
      // hard_negatives: bm25's declared 1-row stats combine
      "hard_negatives",
      // lsh_diversity_sample: the 1-row Σ√size and leftover scalars —
      // mixture_allocate's declared class
      "lsh_diversity_sample")
    // single-partition (empty partitionSpec) windows move ALL data to
    // one task — legal ONLY over metadata-bounded aggregates: the two
    // band-offset cumsums (zorder's ≤256-row per-band counts, F14's
    // inventory÷1000 per-band totals). Every other registry plan must
    // rank inside a partitioned window (the banded-rank contract) —
    // this makes the 88 test-log WindowExec warnings attributable to
    // spec/oracle-mirror code only, enforced instead of eyeballed.
    // mixture_allocate: the leftover-seat rank runs over the
    // lang-cardinality share AGGREGATE (|langs| rows — the same
    // metadata-bounded class as the two band-offset cumsums)
    val windowOk = Set("zorder_layout", "compaction_plan",
      // lsh_diversity_sample: the leftover-seat rank runs over the
      // ≤2^bits-row cell AGGREGATE (mixture_allocate's class); the
      // data-sized pick window is partitioned by cell
      "mixture_allocate", "lsh_diversity_sample")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val nodes = collectAll(executedPlan(fn(spark, sf)))
      spark.catalog.clearCache()
      val viol = Seq.newBuilder[String]
      if (!crossOk(name) && nodes.exists(n => n.isInstanceOf[CartesianProductExec]
        || n.isInstanceOf[BroadcastNestedLoopJoinExec]))
        viol += s"$name: undeclared cross/nested-loop join"
      if (!sortAggOk(name) && nodes.exists(_.isInstanceOf[SortAggregateExec]))
        viol += s"$name: undeclared sort-based aggregate"
      if (!singleOk(name) && nodes.exists {
        case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
        case _ => false })
        viol += s"$name: undeclared single-partition shuffle"
      if (!windowOk(name) && nodes.exists {
        case w: org.apache.spark.sql.execution.window.WindowExec =>
          w.partitionSpec.isEmpty
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
          w.partitionSpec.isEmpty
        case _ => false })
        viol += s"$name: single-partition window over undeclared input"
      // BNLJ conditions evaluate INTERPRETED per streamed row: a fat
      // condition means pushdown inlined a whole projection expression
      // (un-CSE'd) into the join — zorder_layout's inferred
      // isnotnull(band) cost 14x this way until its zval was pinned
      // non-nullable. Declared semantic conditions (ann's self-pair
      // exclusion, vocab's band inequality) are all tiny.
      nodes.foreach {
        case j: BroadcastNestedLoopJoinExec =>
          val len = j.condition.map(_.toString.length).getOrElse(0)
          if (len > 200)
            viol += s"$name: BNLJ condition of $len chars — an inlined " +
              s"expression is evaluating interpreted per row"
        case _ => ()
      }
      viol.result()
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("ngram pair-join core (pre-memo) keeps its audited shape: no cross, no sort-agg, no single-partition shuffle") {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the registry's ngram_jaccard_dedup (and everything downstream of
    // it) now returns a memoized CHECKPOINT scan, which the registry
    // lint sees as an opaque RDD — so the edge pipeline's own shape is
    // pinned here on the UNCACHED core, where a regression (say a
    // single-partition window sneaking into the df cap) stays visible
    val df = operators.NearDup.ngramJaccardPairs(operators.NearDup.corpus(spark, sf))
    val nodes = collectAll(executedPlan(df))
    assert(!nodes.exists(n => n.isInstanceOf[CartesianProductExec]
      || n.isInstanceOf[BroadcastNestedLoopJoinExec]),
      s"cross join in the pair core:\n${executedPlan(df)}")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]),
      s"sort-based aggregate in the pair core:\n${executedPlan(df)}")
    assert(!nodes.exists {
      case e: ShuffleExchangeLike => e.outputPartitioning == SinglePartition
      case _ => false
    }, s"single-partition shuffle in the pair core:\n${executedPlan(df)}")
    spark.catalog.clearCache()
  }

  test("whitelisted crosses carry a provably bounded build side (runtime rows <= 64)") {
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    // the registry lint whitelists these by NAME; this check pins the
    // PROPERTY the whitelist stands on — every cross's build side is a
    // 1-row scalar aggregate or a bounded query/centroid set — so a
    // future edit can't silently grow a whitelisted cross into an
    // n×m explosion. Runtime numOutputRows is the cardinality itself.
    val crossOk = Seq("ann_bruteforce", "ann_truncated", "ann_truncated_rerank",
      "ann_ivf", "ann_ivf_rerank",
      "knn_classify", "knn_classify_ivf", "stats_prune",
      "tfidf_terms", "vocab_build", "perplexity_score", "zorder_layout",
      "bm25_retrieve", "bpe_pair_counts", "bpe_train_merges",
      "scd2_apply", "stream_bm25", "stream_scd2_apply",
      "hybrid_retrieve", "drift_report", "bm25_append", "hybrid_serve",
      "ann_ivf_pq", "nb_quality_classify", "stream_quality_classify",
      "nb_quality_calibrate", "curation_audit", "source_overlap",
      // hard_negatives: bm25's 1-row stats scalar is its only cross
      "hard_negatives")
    def rowsOf(p: org.apache.spark.sql.execution.SparkPlan): Option[Long] = p match {
      case q: QueryStageExec => rowsOf(q.plan)
      case e: BroadcastExchangeLike => Some(e.metrics("numOutputRows").value)
      case other => other.metrics.get("numOutputRows").map(_.value)
        .orElse(other.children.headOption.flatMap(rowsOf))
    }
    crossOk.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // populate the plan's runtime metrics
      val plan = executedPlan(df)
      collectAll(plan).foreach {
        case b: BroadcastNestedLoopJoinExec =>
          val build = b.buildSide match {
            case BuildLeft => b.left
            case BuildRight => b.right
          }
          val n = rowsOf(build)
          assert(n.exists(_ <= 64),
            s"$name: cross build side has ${n.getOrElse("?")} rows (> 64):\n$plan")
        case c: CartesianProductExec =>
          val n = c.children.flatMap(rowsOf(_))
          assert(n.nonEmpty && n.min <= 64,
            s"$name: cartesian's smaller side has ${if (n.isEmpty) "?" else n.min} rows (> 64):\n$plan")
        case _ => ()
      }
      spark.catalog.clearCache()
    }
  }

  test("hybrid_serve: every index probe returns panel-sized partials, never corpus-sized") {
    import org.apache.spark.sql.functions.col
    // drive the un-checkpointed serving core: as jobs (in-process bound -1)
    // both of its index requests are IndexProbe jobs whose tasks return
    // bounded partials (per routed bucket the panel's (query, doc)
    // impact sums, per routed cell each query's top-k) and the driver
    // merges them
    val tmp = java.nio.file.Files.createTempDirectory("graft_hybrid_audit").toFile
    var asJobs: Seq[org.apache.spark.sql.Row] = null
    val seen = withInProcessBytes(-1)(observe {
      asJobs = operators.TextAnalysis.hybridServeOn(spark, sf, tmp.getAbsolutePath)
        .collect().toSeq
    })
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val corpusTokens = operators.TextAnalysis.bm25TfTable(docs).count()
    val panelTokens = operators.TextAnalysis.bm25TfTable(
      docs.filter(col("doc_id") < 50)).count()
    // the C27 harness this entry replaces shipped a corpus-derived
    // panel; here the bound is serving-batch-sized: the panel's own
    // tokens (the lexical partials), the nQueries×nprobe routing set
    // with each routed cell's top-k per query (k = 10: a cell task
    // returns a query's best rows, not its routing row), centroids,
    // the 1-row stats scalar — all independent of corpus growth
    val bound = 2 * panelTokens + 16 * 50 * 10 + 64
    assert(bound < corpusTokens,
      s"audit vacuous: bound $bound not below corpus scale $corpusTokens")
    info(s"partials ${seen.partials}, bound $bound, corpus tokens $corpusTokens")
    assert(seen.partials > 0, "expected IndexProbe partials from the serve")
    assert(seen.partials <= bound,
      s"the probes returned corpus-scale partials: ${seen.partials} (bound $bound)")
    // in process the same serve over the same indexes answers the same
    // rows, and its requests return no partial through a task
    var inProcess: Seq[org.apache.spark.sql.Row] = null
    val again = observe {
      inProcess = operators.TextAnalysis.hybridServeFrom(spark, sf, s"$tmp/ivf", s"$tmp/bm25")
        .collect().toSeq
    }
    assert(again.partials == 0, s"in process, tasks returned ${again.partials} partials")
    assert(inProcess.sortBy(_.toString) == asJobs.sortBy(_.toString), "in process vs the jobs")
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    spark.catalog.clearCache()
  }

  test("bloom_prejoin: might_contain below the shuffle, no false negatives, real pruning, equals plain join") {
    import org.apache.spark.sql.functions._
    val pre = operators.BloomJoin.bloomPrefilteredFact(spark, sf)
    // the defining plan property: the bloom probe is a scan-side filter,
    // BEFORE any exchange (the prefiltered fact plan has no shuffle at
    // all). Asserted BEFORE cache() — a cached frame plans as an
    // InMemoryTableScan and would hide the filter.
    assert(countShuffles(pre) == 0, s"plan:\n${executedPlan(pre)}")
    assert(executedPlan(pre).toString.contains("might_contain"),
      s"plan:\n${executedPlan(pre)}")
    pre.cache()
    val fact = Tables.lineitem(spark, sf).select(col("l_orderkey"))
    val dim = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").select(col("o_orderkey"))
    val trueMatches = fact
      .join(dim, fact("l_orderkey") === dim("o_orderkey"), "left_semi").count()
    // no false negatives (bloom guarantee)
    assert(pre.join(dim, pre("l_orderkey") === dim("o_orderkey"), "left_semi")
      .count() == trueMatches)
    // actually prunes: the pre-filtered fact is well under the full fact
    val (preN, factN) = (pre.count(), fact.count())
    assert(preN < factN / 2, s"pre=$preN fact=$factN")
    // end result identical to the plain join+agg
    val result = operators.BloomJoin.bloomPrejoin(spark, sf)
    val plainAgg = Tables.lineitem(spark, sf)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        graft.functions.NumericAgg.dsum(col("l_quantity")).as("sum_qty"),
        graft.functions.NumericAgg.dsum(col("l_extendedprice")).as("sum_price"))
    assert(result.except(plainAgg).count() == 0 && plainAgg.except(result).count() == 0)
    pre.unpersist()
  }
}
