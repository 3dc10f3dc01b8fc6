package graft

import org.scalatest.funsuite.AnyFunSuite

/** Partition-count invariance: the property that makes results stable
  * when a cluster rescales. Re-running a query with a different
  * `spark.sql.shuffle.partitions` changes partial-aggregation grouping
  * and row order everywhere — any float-accumulation-order or
  * tie-break dependence shows up as a diff. The decimal-exact
  * aggregates (NumericAgg) and id tie-breaks exist precisely to pass
  * this. */
class DeterminismSpec extends AnyFunSuite {
  import TestSpark._

  private val probed = Seq(
    "q1_pricing",        // decimal money aggregates
    "ngram_jaccard_dedup", // pair counting across shuffles
    "topk_per_group_agg",  // custom k-heap aggregate with tie-breaks
    "sample_split",        // per-row hash (trivially invariant; guards regressions)
    "vocab_build",         // banded rank + broadcast offsets over aggregated vocab
    "resample_fill",       // window fill over generated grid
    "centroid_per_label",  // rounded double means over float partial sums
    "capped_per_group",    // hash-ordered window sampling
    "mixture_sample",      // broadcast rate lookup + md5 uniform accept
    "doc_chunk",           // per-row chunk explosion
    "dedup_cluster_star",  // iterative contraction w/ star-forest stop
    "corpus_shard",        // banded within-shard rank over md5 keys
    "pipeline_training_manifest", // composed closure + gates + shard
    "perplexity_score",    // rounded float mean of per-token log-probs
    "cross_dedup",         // asymmetric pair counting across shuffles
    "zorder_layout",       // banded rank over Morton codes + file chunking
    "compaction_plan",     // banded exclusive cumsum + offset binning
    "bm25_retrieve",       // integer impacts + (score, doc_id) rank tie-breaks
    "substring_dedup",     // content-defined window posting counts
    "doc_embed",           // signed-int tf sums over md5 slots
    "hybrid_retrieve",     // fused integer RRF over two rank lists
    "scd2_apply",          // incremental MERGE vs derived boundary
    "stream_scd2_apply",   // three folded MERGEs, checkpointed between
    "bpe_encode",          // driver-collected merges baked as literals
    "bm25_serve",          // persisted postings round-trip + serve
    "line_dedup",          // position-sorted reassembly from collect_list
    "dsir_select",         // driver histogram + bucket-local order statistic
    "gopher_rules",        // per-doc explode-aggs + top-2-gram tie-break
    "ccnet_buckets",       // per-lang rank thirds over micro-unit bits
    "curriculum_order",    // banded two-pass global position over md5 keys
    "mixture_allocate",    // largest-remainder seats over IEEE shares
    "tokenizer_fertility", // driver-collected merges + integer-div ratios
    "kn_bigram_score",     // rounded float mean of per-bigram KN log-probs
    "kn_stale_serve",      // frozen-LM backoff legs + rounded float mean
    "leak_safe_split",     // cluster-rep md5 bucket over memoized labels
    "lsh_diversity_sample", // IEEE √-shares + seat ranks + md5 in-cell draw
    "source_overlap",      // k-heap KMV sketch + per-pair union ranks
    "stream_source_overlap", // N-fold KMV merges ≡ one-shot sketch
    "phrase_retrieve",     // rarest-first anchor branches + (count, id) ranks
    "contam_overlap_report" // integer fractions over broadcast gram hits
  )

  /** Collect to the driver and normalize — NO cache()/exceptAll here:
    * Spark's CacheManager matches cached plans by canonicalized logical
    * plan, so a cached first run would silently serve the second run
    * too and the comparison would be vacuous. */
  private def materialized(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf)
      .collect().map(_.toString).sorted.toSeq

  test("results are identical under different shuffle partition counts") {
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    try {
      probed.foreach { name =>
        conf.set("spark.sql.shuffle.partitions", "4")
        val a = materialized(name)
        conf.set("spark.sql.shuffle.partitions", "7")
        val b = materialized(name)
        assert(a == b, s"$name differs between 4 and 7 shuffle partitions")
      }
    } finally conf.set("spark.sql.shuffle.partitions", orig)
  }
}
