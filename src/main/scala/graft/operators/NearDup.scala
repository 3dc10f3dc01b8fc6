package graft.operators

import graft.{Artifacts, Tables}
import graft.sources.{Catalog, IndexLayout}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Near-duplicate detection family over `documents` (SURVEY.md §2
  * C2-C4, C11) — the core of a pre-training dedup pipeline.
  *
  * Every operator here runs against documents ∪ a planted re-crawl
  * (ids offset by 1,000,000, same or truncated text) so the detector
  * provably finds the known duplicates at any SF — the self-test corpus
  * a dedup pipeline ships with.
  *
  * Scale design (the whole point of MinHash/SimHash): candidate pairs
  * come only from hash-bucket collisions — the shuffle is
  * O(docs × bands), and pair generation is quadratic only WITHIN a
  * bucket, never globally. Oversized buckets (degenerate content) are
  * capped and dropped; `id1 < id2` halves pair work everywhere.
  *
  * MATERIALIZATION CONTRACT: multi-consumer intermediates here
  * (posting/band/signature tables feeding an aggregate AND both join
  * sides) are materialized EAGERLY via localCheckpoint, not lazily
  * persisted: the consumer stages launch concurrently inside one job,
  * and a lazy persist lets each of them miss the unfilled cache and
  * re-run the whole shingle pipeline (measured 3× cold CPU). The
  * checkpointed blocks are dropped by the ContextCleaner once the
  * returned plan is GC'd; on a multi-executor cluster swap
  * localCheckpoint for a reliable checkpoint (blocks die with an
  * executor) — same shape, durable storage.
  *
  * CROSS-QUERY SHARING: four registry queries (`dedup_cluster`,
  * `dedup_cluster_star`, `dedup_keep_best`,
  * `pipeline_training_manifest`) all stand on the SAME ngram pair
  * edges — and on the same star-contraction closure ([[starContract]]),
  * the last two also on the same keeper argmax. Run standalone each builds its own; run in one
  * process (Verify, Bench, the test suite — the registry sweep) the
  * shared intermediates are session artifacts ([[graft.Artifacts]]),
  * so the edge pipeline is built and checkpointed ONCE and every
  * consumer reads the materialized table — the "write the signature
  * table once, feed every downstream decision from it" posture a
  * production dedup pipeline ships (SURVEY §5).
  */
object NearDup {

  /** Planted-twin id offset, shared by every operator that unions a
    * synthetic re-crawl/re-ingest of the corpus (NearDup, TextAnalysis,
    * Multimodal — Scala and oracle SQL sides must agree on it). */
  private[graft] val BigOffset = 1000000L

  /** documents ∪ exact re-crawl (planted dups, ids + [[BigOffset]]) —
    * shared by batch C-block operators and streaming E6, so their
    * inputs cannot drift. */
  private[graft] def corpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    Tables.fanout(docs.unionAll(
      docs.select(($"doc_id" + BigOffset).as("doc_id"), $"text")))
  }

  /** documents ∪ a NOISY re-crawl (ids + [[BigOffset]]): twin text =
    * the original with k evenly-spaced tokens replaced by a
    * twin-unique marker — the D6b noisy-image trick carried into token
    * space, deterministic and in-plan (the Bresenham-style condition
    * ⌊i·k/n⌋ ≠ ⌊(i+1)·k/n⌋ marks exactly min(k, n) spread-out
    * positions). The twins are NEAR-duplicates, not copies: every
    * marker embeds the doc_id, so an exact-hash detector provably
    * cannot pair them, while the sketch detectors (C2 minhash bands,
    * C3 simhash bands) must recover them through real signature noise
    * — the recall surface RecallSpec grades. */
  private[graft] def noisyCorpus(spark: SparkSession, dir: String, k: Int = 2): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
    val noisy = docs
      .withColumn("t", split(trim($"text"), "\\s+"))
      .select(($"doc_id" + BigOffset).as("doc_id"), concat_ws(" ", expr(
        s"""transform(t, (x, i) ->
           |  if((i * $k) div size(t) != ((i + 1) * $k) div size(t),
           |     concat('zznoise', doc_id, 'x', i), x))""".stripMargin)).as("text"))
    Tables.fanout(docs.unionAll(noisy))
  }

  /** doc_id + distinct word-3-gram shingles (docs with ≥3 tokens). */
  private def shingledFrames(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .filter(size($"toks") >= 3)
      .withColumn("shingles", expr(
        "array_distinct(transform(sequence(0, size(toks)-3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))"))
      .select($"doc_id", $"shingles")
  }

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingledFrames(corpus(spark, dir))

  /** C2 `minhash_lsh_dedup` — MinHash signatures + LSH banding.
    * k=16 minhashes, 4 bands × 4 rows; docs sharing any band-signature
    * bucket become candidate pairs; est_jaccard = matching signature
    * fraction.
    *
    * The slot family is md5-derived double hashing (Kirsch–Mitzenmacher):
    * per shingle, h1/h2 = the two 14-hex-char (56-bit) halves of
    * md5(shingle); slot i = min over shingles of h1 + i·h2 (≤ 2^60, no
    * 64-bit overflow). Both engines compute md5 bit-identically, which
    * upgrades C2 from a rows-only check to a HASH-GATED query — same
    * move as C11's fingerprints. The LSH guarantees are hash-agnostic,
    * so a throughput-critical deployment swaps a seeded-xxhash64 kernel
    * back in (one line here) without changing any other semantics.
    *
    * Scale: signature compute is per-row (higher-order fns, no UDF);
    * the only shuffle is the band-bucket self-join, proportional to
    * collisions. Buckets larger than `bucketCap` are dropped (degenerate
    * boilerplate would otherwise go quadratic) — exactly what
    * production LSH dedup does. */
  def minhashLshDedup(spark: SparkSession, dir: String, bucketCap: Int = 1000): DataFrame =
    minhashLshPairs(corpus(spark, dir), bucketCap)

  /** MinHash signatures + LSH band hashes of a (doc_id, text) frame —
    * the shared signature pipeline of batch C2 and streaming E6 (one
    * definition, so their band buckets can never drift apart). The
    * band_sig hash is an internal JOIN KEY only (never emitted), so it
    * may stay engine-native xxhash64: the oracles group on the 4-slot
    * band tuple itself, which is the same partition of docs. */
  private[graft] def bandTable(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    shingledFrames(docs)
      .withColumn("sig",
        graft.functions.VectorExpressions.minhashMd5Sig($"shingles", 16))
      .select($"doc_id", $"sig", posexplode(expr(
        """transform(sequence(0, 3),
          |  b -> xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3], b))""".stripMargin)))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_sig")
  }

  /** Frame-based core of C2 (docs = (doc_id, text)). */
  def minhashLshPairs(docs: DataFrame, bucketCap: Int = 1000): DataFrame = {
    import docs.sparkSession.implicits._
    // eager: the band table feeds three concurrent consumers (bucket
    // sizing + both join sides) — see the materialization contract
    // above. At cluster scale this is the "materialize the signature
    // table" step of any LSH pipeline.
    val bands = bandTable(docs).localCheckpoint()
    val smallBuckets = bands
      .groupBy($"band_idx", $"band_sig")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" > 1 && $"bucket_n" <= bucketCap)
      .select($"band_idx", $"band_sig")
    val bucketed = bands.join(smallBuckets, Seq("band_idx", "band_sig"))
    val a = bucketed.select($"band_idx", $"band_sig", $"doc_id".as("id1"), $"sig".as("sig1"))
    val b = bucketed.select($"band_idx", $"band_sig", $"doc_id".as("id2"), $"sig".as("sig2"))
    a.join(b, Seq("band_idx", "band_sig"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2",
        // cast BEFORE the division: int / DECIMAL(3,1) literal stays
        // decimal in Spark, and the driver's gate hashes TYPES too —
        // the oracle's len(...)/16.0 is a DuckDB DOUBLE.
        expr("cast(aggregate(zip_with(sig1, sig2, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v) as double) / 16.0d")
          .as("est_jaccard"))
      .distinct()
  }

  /** Shared CTE prefix of the C2/E6 oracles: corpus → word-3-gram
    * shingles → md5 double-hash 16-slot signatures → 4 band rows per
    * doc (band key = the 4-slot tuple rendered as a string — same doc
    * partition as the engine's band hash). Mirrors [[bandTable]]
    * construct-for-construct. */
  private def minhashBandsCte: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset, text FROM documents),
       |tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
       |sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(toks) - 2),
       |           i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingles
       |  FROM tok WHERE len(toks) >= 3),
       |hs AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) AS ms FROM sh),
       |sig AS (
       |  SELECT doc_id, list_transform(range(0, 16),
       |           i -> list_min(list_transform(ms,
       |                  m -> CAST(('0x' || substr(m, 1, 14)) AS BIGINT)
       |                       + i * CAST(('0x' || substr(m, 17, 14)) AS BIGINT)))) AS sig
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, sig, b AS band_idx,
       |         array_to_string(sig[4*b+1:4*b+4], ',') AS band
       |  FROM sig CROSS JOIN (SELECT unnest([0,1,2,3]) AS b))""".stripMargin

  /** C2 oracle: drop-bucket cap semantics (a bucket larger than
    * `bucketCap` contributes NO pairs). */
  def minhashLshDedupSql(bucketCap: Int = 1000): String =
    s"""WITH $minhashBandsCte,
       |ok AS (
       |  SELECT band_idx, band FROM bands GROUP BY 1, 2
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= $bucketCap),
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sig AS sig1, b.sig AS sig2
       |  FROM bands a JOIN ok USING (band_idx, band) JOIN bands b USING (band_idx, band)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT DISTINCT id1, id2,
       |       len(list_filter(range(1, 17), i -> sig1[i] = sig2[i])) / 16.0 AS est_jaccard
       |FROM cand""".stripMargin

  /** E6 oracle: truncation cap semantics (each bucket admits its
    * `bucketCap` smallest doc_ids; pairs form among the admitted) —
    * exactly what the streaming detector, which cannot know a bucket's
    * final size, computes. At any SF where no bucket exceeds the cap
    * this coincides with [[minhashLshDedupSql]]. */
  def minhashTruncatedSql(bucketCap: Int = 1000): String =
    s"""WITH $minhashBandsCte,
       |adm AS (
       |  SELECT * FROM (
       |    SELECT doc_id, sig, band_idx, band,
       |           row_number() OVER (PARTITION BY band_idx, band ORDER BY doc_id) AS rn
       |    FROM bands) WHERE rn <= $bucketCap),
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.sig AS sig1, b.sig AS sig2
       |  FROM adm a JOIN adm b USING (band_idx, band)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT DISTINCT id1, id2,
       |       len(list_filter(range(1, 17), i -> sig1[i] = sig2[i])) / 16.0 AS est_jaccard
       |FROM cand""".stripMargin

  /** C3 `simhash_dedup` — 64-bit SimHash fingerprints + hamming-band
    * candidate join. Each bit is the sign of the token-weight sum on
    * that bit position; near-identical docs differ in few bits. Bands:
    * 4 × 16-bit slices — a pair within hamming distance 3 of each other
    * is guaranteed to collide on at least one band slice (pigeonhole).
    * Same bucket-join scale shape as C2. The per-token hash family is
    * md5-derived (see [[graft.functions.VectorExpressions.SimHash64]]),
    * so the full pipeline is HASH-GATED against [[simhashDedupSql]];
    * the spec additionally asserts the planted twins surface at
    * hamming 0. */
  def simhashDedup(spark: SparkSession, dir: String, maxHamming: Int = 8,
                   bucketCap: Int = 1000): DataFrame =
    simhashPairs(corpus(spark, dir), maxHamming, bucketCap)

  /** C3 oracle: the md5-derived simhash recomputed bit-for-bit in SQL —
    * per-token bit votes (multiset), 4 × 16-bit band buckets with the
    * drop cap, hamming over the full 64 bits. Mirrors [[simhashPairs]]
    * construct-for-construct (DuckDB lists are 1-based). */
  def simhashDedupSql(maxHamming: Int = 8, bucketCap: Int = 1000): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset, text FROM documents),
       |tok AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus),
       |hs AS (SELECT doc_id, list_transform(toks, t -> {
       |         'h1': CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT),
       |         'h2': CAST(('0x' || substr(md5(t), 9, 8)) AS BIGINT)}) AS hs
       |       FROM tok WHERE len(toks) >= 1),
       |bits AS (
       |  SELECT doc_id, list_transform(range(0, 64), b ->
       |           CASE WHEN list_sum(list_transform(hs, h ->
       |             CASE WHEN ((CASE WHEN b < 32 THEN h.h1 ELSE h.h2 END) >> (b % 32)) & 1 = 1
       |               THEN 1 ELSE -1 END)) >= 0 THEN 1 ELSE 0 END) AS bits
       |  FROM hs),
       |bands AS (
       |  SELECT doc_id, bits, b.b AS band_idx,
       |         CAST(list_sum(list_transform(range(0, 16),
       |                k -> bits[16 * b.b + k + 1] * (1 << k))) AS INT) AS band_val
       |  FROM bits CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b),
       |ok AS (
       |  SELECT band_idx, band_val FROM bands GROUP BY 1, 2
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= $bucketCap),
       |cand AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, a.bits AS bits1, b.bits AS bits2
       |  FROM bands a JOIN ok USING (band_idx, band_val)
       |       JOIN bands b USING (band_idx, band_val)
       |  WHERE a.doc_id < b.doc_id)
       |SELECT * FROM (
       |  SELECT DISTINCT id1, id2,
       |         CAST(len(list_filter(range(0, 64),
       |                k -> bits1[k + 1] <> bits2[k + 1])) AS INT) AS hamming
       |  FROM cand)
       |WHERE hamming <= $maxHamming""".stripMargin

  /** Frame-based core of C3 (docs = (doc_id, text)). */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 8,
                   bucketCap: Int = 1000): DataFrame = {
    import docs.sparkSession.implicits._
    val fp = docs
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .filter(size($"toks") >= 1)
      .withColumn("simhash", graft.functions.VectorExpressions.simhash64($"toks"))
      .select($"doc_id", $"simhash")
    val bands = fp.select($"doc_id", $"simhash",
        posexplode(expr(
          "transform(sequence(0, 3), b -> (simhash >> (16 * b)) & 65535)")))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
      .localCheckpoint()
    val smallBuckets = bands
      .groupBy($"band_idx", $"band_val")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" > 1 && $"bucket_n" <= bucketCap)
      .select($"band_idx", $"band_val")
    val bucketed = bands.join(smallBuckets, Seq("band_idx", "band_val"))
    val a = bucketed.select($"band_idx", $"band_val", $"doc_id".as("id1"), $"simhash".as("h1"))
    val b = bucketed.select($"band_idx", $"band_val", $"doc_id".as("id2"), $"simhash".as("h2"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2", bit_count($"h1".bitwiseXOR($"h2")).as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  /** C4 `ngram_jaccard_dedup` — exact n-gram Jaccard ≥ threshold via
    * INVERTED-INDEX PAIR COUNTING: explode each doc's distinct shingle
    * hashes to postings (sh, doc_id, n_sh), self-join postings on the
    * shingle, and hash-aggregate `count(*)` per (id1, id2) — the count
    * IS the exact intersection size, so Jaccard follows directly from
    * n_inter and the two set sizes carried through the join. The whole
    * hot path is codegen'd long arithmetic: no per-pair array
    * materialization, no array_intersect, no signature broadcast (an
    * earlier AllPairs prefix-filter + array-verify variant spent 6x its
    * CPU in interpreted array intersection and allocation churn).
    *
    * Scale: shuffle volume = Σ_sh df(sh)² pair rows, aggregated
    * map-side first. That sum is BOUNDED by the document-frequency cap:
    * shingles appearing in more than `dfCap` documents are dropped from
    * the shingle universe symmetrically (postings AND per-doc set
    * sizes, engine AND oracle) before any pair is generated, so the
    * worst case is Σ df² ≤ dfCap · |postings| — linear in the corpus —
    * instead of n² when every doc shares a boilerplate header.
    * Ubiquitous shingles carry no similarity signal (they move every
    * pair's Jaccard identically), so capping changes answers only for
    * pairs whose overlap WAS boilerplate — exactly the pairs a dedup
    * pipeline must not merge. Jaccard is computed over the capped
    * universe: one int division → hash-exact. Prefix filtering would
    * cut postings by 1-τ but forces per-pair set verification — the
    * wrong trade while df capping holds. 64-bit shingle-hash collisions
    * are ~n²·2⁻⁶⁴, immaterial even at 10⁹ shingles. */
  /** doc_id → distinct 64-bit shingle hashes (word-3-gram, xxhash64)
    * — the posting rows of the inverted index; ONE definition shared
    * by the symmetric (C4) and incremental (`cross_dedup`) paths so
    * their shingle universes can never drift apart. */
  private[graft] def shinglePostings(docs: DataFrame): DataFrame =
    DocFeatures.shingles(DocFeatures.of(docs))

  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.5,
                        dfCap: Int = 100): DataFrame = {
    // Shingle hashes come straight off the token triples —
    // xxhash64(t0, t1, t2) — with no intermediate concat_ws string per
    // shingle; distinctness over the 64-bit hashes equals distinctness
    // over the string shingles w.h.p. (collisions ~n²·2⁻⁶⁴), which is
    // all the oracle's distinct-string count needs.
    //
    // EAGER materialization (localCheckpoint), not lazy persist: the
    // postings feed the df-cap aggregate and both sides of the pair
    // self-join, and those stages launch CONCURRENTLY inside one job —
    // a lazy persist lets every one of them miss the unfilled cache and
    // re-run the regex-split/shingle pipeline (measured 3× its CPU on
    // the cold run). Materializing once up front is the "write the
    // signature table" step of any production dedup; on a multi-executor
    // cluster make it a reliable checkpoint / parquet stage instead.
    pairsFromPostings(shinglePostings(docs).localCheckpoint(), threshold, dfCap)
  }

  /** [[ngramJaccardPairs]] over a materialized (doc_id, sh) postings
    * table. */
  private def pairsFromPostings(postings: DataFrame, threshold: Double,
                                dfCap: Int): DataFrame = {
    import postings.sparkSession.implicits._
    // the cap, skew-safe: the DROPPED side is what's broadcast. Hot
    // shingles (df > dfCap) are by construction few — boilerplate
    // headers, stopword runs — so the df aggregate reduces them
    // map-side (partial agg; a hot key costs one row per map task, no
    // single-task group buffering, unlike a window count whose hot
    // partition cannot be split) and the resulting hot-list broadcasts
    // into a scan-side anti-join: postings never shuffle FOR THE CAP
    // at all, only for the pair join itself. The anti-join is a narrow
    // op over the checkpointed postings, cheap for all three consumers
    // (sizes + both pair-join sides); the broadcast is exchange-reused.
    val hot = postings.groupBy($"sh")
      .agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap)
      .select($"sh")
    val capped = postings.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizes = capped.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    capped.select($"doc_id".as("id1"), $"sh")
      .join(capped.select($"doc_id".as("id2"), $"sh"), Seq("sh"))
      .filter($"id1" < $"id2")
      .groupBy($"id1", $"id2")
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.select($"doc_id".as("id1"), $"n_sh".as("n1")), Seq("id1"))
      .join(sizes.select($"doc_id".as("id2"), $"n_sh".as("n2")), Seq("id2"))
      .withColumn("jaccard",
        $"n_inter".cast("double") / ($"n1" + $"n2" - $"n_inter").cast("double"))
      .filter($"jaccard" >= threshold)
      .select($"id1", $"id2", $"n_inter", $"jaccard")
  }

  /** The memoized, MATERIALIZED pair-edge table every closure/decision
    * query consumes — built once per (session, dir, threshold, dfCap)
    * and checkpointed, so `dedup_cluster`, `dedup_cluster_star`,
    * `dedup_keep_best` and `pipeline_training_manifest` share one edge
    * build instead of four (the r6 bench showed the un-shared rebuild
    * was 43% of a full registry run). */
  def ngramJaccardDedup(spark: SparkSession, dir: String,
                        threshold: Double = 0.5, dfCap: Int = 100): DataFrame =
    Artifacts.value(spark, Artifacts.Pairs, dir, threshold, dfCap) {
      // the postings are the session features' shingles, the twins' by
      // id shift: an explode of the checkpointed features is already a
      // materialized posting table, so no second checkpoint
      pairsFromPostings(DocFeatures.shingles(DocFeatures.withTwins(
        DocFeatures.forDir(spark, dir))), threshold, dfCap).localCheckpoint()
    }

  def ngramJaccardDedupSql(threshold: Double = 0.5, dfCap: Int = 100): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset, text FROM documents),
       |toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM corpus),
       |shingles0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(l) - 2), i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS sh
       |  FROM toks WHERE len(l) >= 3),
       |df AS (SELECT sh, COUNT(*) AS df FROM shingles0 GROUP BY 1),
       |shingles AS (
       |  SELECT doc_id, sh FROM shingles0 JOIN df USING (sh) WHERE df <= $dfCap),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingles GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS n_inter
       |  FROM shingles a JOIN shingles b USING (sh)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id1, id2, n_inter,
       |       CAST(n_inter AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - n_inter AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sizes s1 ON s1.doc_id = id1
       |JOIN sizes s2 ON s2.doc_id = id2
       |WHERE CAST(n_inter AS DOUBLE) / CAST(s1.n_sh + s2.n_sh - n_inter AS DOUBLE) >= $threshold""".stripMargin

  /** Extension `cross_dedup` — INCREMENTAL near-dup: score a newly
    * ingested snapshot against a reference corpus, emitting only
    * new×ref pairs — the nightly re-crawl shape, where re-scoring the
    * whole corpus (C4) would redo V² work for a batch of size B. Same
    * inverted-index pair counting as C4, asymmetric: the reference
    * postings are the INDEX (in production: materialized once,
    * bucketed by shingle hash), the new batch's postings probe it.
    *
    * Scale: shuffle = Σ_sh df_new(sh)·df_ref(sh) pair rows — with the
    * df cap this is ≤ dfCap·|new postings|, LINEAR IN THE NEW BATCH
    * and independent of reference size beyond the (pre-computable)
    * posting scan; no ref×ref and no new×new pair is ever generated.
    * The cap is decided by the REFERENCE's document frequencies (the
    * index already knows its boilerplate; a batch too small to reveal
    * df can't) and applied to both sides symmetrically, oracle
    * included. Jaccard is over each side's capped shingle set, so
    * novel content in the new doc dilutes similarity exactly as in
    * C4. */
  def crossDedup(spark: SparkSession, dir: String, threshold: Double = 0.5,
                 dfCap: Int = 100): DataFrame = {
    import spark.implicits._
    // planted snapshot: the re-crawl (ids + BigOffset) of the corpus —
    // every new doc must surface its original at jaccard 1.0. In
    // production the new side is the ingest batch.
    val ref = Tables.fanout(Tables.documents(spark, dir).select($"doc_id", $"text"))
    val neu = ref.select(($"doc_id" + BigOffset).as("doc_id"), $"text")
    crossDedupPairs(neu, ref, threshold, dfCap)
  }

  /** Frame-based core of `cross_dedup` (both frames = (doc_id, text)). */
  def crossDedupPairs(newDocs: DataFrame, refDocs: DataFrame,
                      threshold: Double = 0.5, dfCap: Int = 100): DataFrame = {
    // eager (materialization contract): ref postings feed the df-cap
    // aggregate, the size aggregate AND the pair-join build; new
    // postings feed sizes + probe
    val pr = shinglePostings(refDocs).localCheckpoint()
    val pn = shinglePostings(newDocs).localCheckpoint()
    crossPairsFromPostings(pn, pr, pr, threshold, dfCap)
  }

  /** The asymmetric scoring tail shared by [[crossDedupPairs]] and
    * [[dedupServe]]: hot-filtered new/ref posting sets join on the
    * shingle, intersections count, and Jaccard resolves against the
    * supplied per-doc capped sizes. */
  private def pairTail(n: DataFrame, r: DataFrame, sizesN: DataFrame,
                       sizesR: DataFrame, threshold: Double): DataFrame = {
    import n.sparkSession.implicits._
    n.select($"doc_id".as("new_id"), $"sh")
      .join(r.select($"doc_id".as("ref_id"), $"sh"), Seq("sh"))
      .groupBy($"new_id", $"ref_id")
      .agg(count(lit(1)).as("n_inter"))
      .join(sizesN.select($"doc_id".as("new_id"), $"n_new"), Seq("new_id"))
      .join(sizesR.select($"doc_id".as("ref_id"), $"n_ref"), Seq("ref_id"))
      .withColumn("jaccard",
        $"n_inter".cast("double") / ($"n_new" + $"n_ref" - $"n_inter").cast("double"))
      .filter($"jaccard" >= threshold)
      .select($"new_id", $"ref_id", $"n_inter", $"jaccard")
  }

  /** In-memory scoring core ([[crossDedupPairs]]): `prAll` feeds the
    * reference's df-cap (hot) list and per-doc capped sizes; `prProbe`
    * is the (possibly bucket-pruned) posting set the new batch's
    * shingles actually join — pruning only drops shingle groups with
    * no new-side match, so the pair results are identical. The
    * PERSISTED path ([[dedupServe]]) gets these same inputs from the
    * index's stats sidecars instead of an O(postings) recompute. */
  private def crossPairsFromPostings(pn: DataFrame, prAll: DataFrame,
                                     prProbe: DataFrame, threshold: Double,
                                     dfCap: Int): DataFrame = {
    import pn.sparkSession.implicits._
    // hot list from the REFERENCE index, broadcast-anti-joined into
    // both sides (same skew-safe posture as C4's cap)
    val hot = prAll.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > dfCap).select($"sh")
    val r = prProbe.join(broadcast(hot), Seq("sh"), "left_anti")
    val n = pn.join(broadcast(hot), Seq("sh"), "left_anti")
    val sizesR = prAll.join(broadcast(hot), Seq("sh"), "left_anti")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_ref"))
    val sizesN = n.groupBy($"doc_id").agg(count(lit(1)).as("n_new"))
    pairTail(n, r, sizesN, sizesR, threshold)
  }

  // ---- C4c: the PERSISTED reference-signature index ----------------
  //
  // cross_dedup's Scaladoc promises "in production: materialized
  // once"; this is that materialization — the dedup surface's
  // build → append → delete → serve lifecycle, the same posture as
  // the raw BM25 index (TextAnalysis) and the IVF index (Similarity):
  //   postings/bucket=*/  (sh, doc_id, batch_id) — shingle-hash
  //                        bucketed, so a shingle's whole posting
  //                        list lives in ONE bucket (df bucket-local,
  //                        probe reads prunable)
  //   dfs/bucket=*/       (sh, n_new, batch_id) — the df-DELTA
  //                        sidecar: one row per distinct batch
  //                        shingle, so appends detect cap crossings
  //                        by summing per-shingle deltas instead of
  //                        rescanning accumulated posting lists
  //   deletes/            doc tombstones (commit-gated)
  //   commits/            (batch_id, n_buckets, df_cap) — the commit
  //                        record, written LAST; only committed
  //                        batches serve (IndexLayout.DedupSig)
  // The index stores the SHINGLING — the part that is expensive to
  // redo over a 100 TB reference corpus. Serve recomputes df/hot and
  // capped sizes from the live postings (two-long-per-row columnar
  // scan; exact under any append/delete history), and the pair join
  // reads only the new batch's shingle buckets.

  def dedupIndexWrite(docs: DataFrame, path: String, nBuckets: Int = 16,
                      dfCap: Int = 100): Unit =
    dedupIndexAppendRaw(docs, path, Some(nBuckets), overwrite = true,
      dfCapOpt = Some(dfCap))

  /** Fold a new reference batch in: O(batch) — touched buckets gain
    * files, the stats sidecars gain the batch's rows, the commit log
    * gains one row, nothing rewrites. Bucket count and df cap are
    * read from the index's own commit log (the self-description
    * principle — an append can never silently retune the index). */
  def dedupIndexAppend(docs: DataFrame, path: String): Unit =
    dedupIndexAppendRaw(docs, path, None, overwrite = false)

  private[graft] def dedupIndexAppendRaw(docs: DataFrame, path: String,
                                         nBucketsOpt: Option[Int],
                                         overwrite: Boolean,
                                         commit: Boolean = true,
                                         dfCapOpt: Option[Int] = None): Unit = {
    import docs.sparkSession.implicits._
    val spark = docs.sparkSession
    val L = IndexLayout.DedupSig
    val (nBuckets, cap) =
      if (overwrite) (nBucketsOpt.get, dfCapOpt.getOrElse(100))
      else {
        val log = L.log(spark, path)
        (L.pinned(log, path, "n_buckets"), L.pinned(log, path, "df_cap"))
      }
    // One-time migration for an index persisted before the df-delta
    // sidecar existed: without a dfs/ baseline the cap-crossing sum
    // below would see only THIS batch's deltas and silently undercount
    // accumulated df — a missed hot shingle is a false negative the
    // serve's exact re-count can never recover (it only re-counts
    // logged candidates). Backfill the exact live per-shingle counts
    // from the postings (the vacuum recompaction write) so cumulative
    // sums resume from the true floor; every later append is O(batch)
    // again.
    if (!overwrite) {
      val dfsP = new org.apache.hadoop.fs.Path(s"$path/dfs")
      val dfsFs = dfsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!dfsFs.exists(dfsP)) {
        // the migration is a store rewrite, so it takes the same
        // writer lease the vacuum path holds: two concurrent
        // first-appends must not both run the O(postings) backfill
        // (the second entrant re-checks under the lease and skips)
        graft.sources.Lake.withWriterLock(spark, path, "dedupDfsBackfill") {
          if (!dfsFs.exists(dfsP)) {
            val committed = L.committed(spark, path)
            require(committed.nonEmpty,
              s"dedup index at $path has no committed batches — cannot " +
                "backfill the dfs/ sidecar from an empty/corrupt commit log")
            dedupRecompactDfs(spark, path, committed, L.tombstones(spark, path, committed))
          }
        }
      }
    }
    // eager: the batch postings feed the postings write, the size
    // aggregate AND the hot-candidate probe
    val batch = shinglePostings(docs)
      .select(pmod($"sh", lit(nBuckets)).cast("int").as("bucket"), $"sh", $"doc_id")
      .localCheckpoint()
    L.append(spark, path, overwrite, commit) { (batchId, mode) =>
      // postings + the two stats sidecars write CONCURRENTLY (guide
      // §2.6 — all three derive from the checkpointed batch and target
      // disjoint directories; every one must land before the commit
      // row, which Par.jobs' join guarantees):
      //   postings — invisible until the commit row lands;
      //   sizes    — the per-doc RAW size sidecar (the serve's Jaccard
      //              denominators: an O(docs) two-long read instead of
      //              an O(postings) aggregate; exact under deletes
      //              because tombstones are doc-level);
      //   dfs      — the DF-DELTA sidecar: one (bucket, sh, n_new) row
      //              per distinct batch shingle — O(batch) to write, and
      //              the ONLY store the cap-crossing detection below
      //              reads. Each row collapses a whole per-batch posting
      //              list to one count, so the cumulative read is
      //              per-SHINGLE-per-batch, never per-posting.
      graft.Par.jobs(
        () => batch.withColumn("batch_id", lit(batchId))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode(mode).parquet(s"$path/postings"),
        () => batch.groupBy($"doc_id").agg(count(lit(1)).as("n_raw"))
          .withColumn("batch_id", lit(batchId))
          .coalesce(1).write.mode(mode).parquet(s"$path/sizes"),
        () => batch.groupBy($"bucket", $"sh")
          .agg(count(lit(1)).as("n_new"))
          .withColumn("batch_id", lit(batchId))
          .repartition(col("bucket"))
          .write.partitionBy("bucket").mode(mode).parquet(s"$path/dfs"))
      // … the HOT-CANDIDATE log: a shingle's df can only grow when new
      // (sh, doc) rows land — i.e. only for shingles IN this batch — so
      // summing the batch's shingles' df deltas across the dfs sidecar
      // (bucket-pruned; a shingle's whole delta history lives in one
      // bucket, and the batch's shingle set broadcasts so ONLY matched
      // rows ever reach an exchange — the shuffle stays O(batch
      // overlap) no matter how large the accumulated sidecar grows,
      // which is exactly what ScaleProbe's dedup_append_corpus_indep
      // ratio asserts) catches every possible cap crossing WITHOUT
      // touching the postings store. Dead/uncommitted rows may
      // overcount df here: the log is a SUPERSET — the serve recomputes
      // the candidates' exact live df from their buckets, so a delete
      // that un-hots a shingle is still scored exactly …
      val touched = IndexLayout.partitionsOf(batch.select($"bucket"))
      L.read(spark, path, "dfs")
        .filter($"bucket".isin(touched: _*))
        .join(broadcast(batch.select($"sh").distinct()), Seq("sh"), "left_semi")
        .groupBy($"sh").agg(sum($"n_new").as("df"))
        .filter($"df" > cap)
        .select($"sh", pmod($"sh", lit(nBuckets)).cast("int").as("bucket"))
        .withColumn("batch_id", lit(batchId))
        .coalesce(1).write.mode(mode).parquet(s"$path/hotcand")
    }(L.row(spark, _, nBuckets, cap)) // … the commit row LAST
  }

  /** VACUUM the signature index — the physical reclaim behind its
    * zero-rewrite tombstones: the shared partition rewrite
    * ([[IndexLayout.Appendable.rewrite]]) of the postings, plus the
    * sidecars this layout keeps beside them. Runs under the writer
    * lease; refuses while a read pin is live (a pinned [[dedupServe]]
    * snapshot may still reference the tombstoned rows). */
  def dedupIndexVacuum(spark: SparkSession, path: String,
                       maxFilesPerBucket: Int = 1): Unit =
      IndexLayout.maintain(spark, path, "dedupIndexVacuum") {
    import spark.implicits._
    val L = IndexLayout.DedupSig
    val log = L.log(spark, path)
    val (committed, nBuckets, cap) =
      (L.batches(log), L.pinned(log, path, "n_buckets"), L.pinned(log, path, "df_cap"))
    val dead = L.tombstones(spark, path, committed)
    if (L.rewrite(spark, path, committed, dead, maxFilesPerBucket).nonEmpty) {
      val del = broadcast(dead.toDF("doc_id"))
      // the metadata-scale sidecars reclaim in the same pass: dead and
      // orphaned size rows rewrite away, and the hot-candidate log
      // re-counts its shingles' LIVE df so entries un-hotted by the
      // reclaimed deletes drop out (a later append that re-crosses the
      // cap re-logs them). Rewritten rows ride an existing committed
      // batch id — sidecar reads are commit-gated, and the pin gate
      // above is what protects snapshot readers from any rewrite here.
      val liveSizes = L.read(spark, path, "sizes")
        .filter($"batch_id".isin(committed: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      liveSizes.coalesce(1).write.mode("overwrite").parquet(s"$path/sizes")
      val cand = L.read(spark, path, "hotcand")
        .filter($"batch_id".isin(committed: _*))
        .select($"sh", $"bucket")
        .distinct().localCheckpoint()
      val candBuckets = IndexLayout.partitionsOf(cand.select($"bucket"))
      val stillHot = L.read(spark, path, "postings")
        .filter($"bucket".isin(candBuckets: _*))
        .filter($"batch_id".isin(committed: _*))
        .join(del, Seq("doc_id"), "left_anti")
        .join(cand.select($"sh").distinct(), Seq("sh"), "left_semi")
        .groupBy($"sh").agg(count(lit(1)).as("df"))
        .filter($"df" > cap)
        .select($"sh", pmod($"sh", lit(nBuckets)).cast("int").as("bucket"))
        .withColumn("batch_id", lit(committed.head))
        .localCheckpoint()
      stillHot.coalesce(1).write.mode("overwrite").parquet(s"$path/hotcand")
      // … and the df-delta sidecar recompacts to the exact live
      // per-shingle counts (one row per surviving shingle): appends
      // resume their cumulative sums from the live floor instead of
      // carrying reclaimed rows' overcounts forward. O(index), like
      // the posting rewrite this pass already paid for.
      dedupRecompactDfs(spark, path, committed, dead)
    }
    // dfs-only bloat: a run of appends with zero tombstones and no
    // file fragmentation still grows the delta history the detection
    // scan reads — recompact it even when the postings need nothing
    // (the cheap fraction probe gates the O(postings) recount)
    else if (dedupDfsReclaimableFraction(spark, path) > 0.0)
      dedupRecompactDfs(spark, path, committed, dead)
  }

  /** Recompact (or backfill) the df-delta sidecar to the exact live
    * per-shingle counts — one row per surviving (bucket, shingle):
    * appends resume their cumulative sums from the live floor instead
    * of carrying reclaimed or duplicated history forward. O(postings),
    * like the rewrite pass that usually precedes it. */
  private def dedupRecompactDfs(spark: SparkSession, path: String,
                                committed: Seq[String], dead: Seq[Long]): Unit = {
    import spark.implicits._
    IndexLayout.DedupSig.read(spark, path, "postings")
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead.toDF("doc_id")), Seq("doc_id"), "left_anti")
      .groupBy($"bucket", $"sh").agg(count(lit(1)).as("n_new"))
      .withColumn("batch_id", lit(committed.head))
      .repartition(col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/dfs")
  }

  /** Dead weight of the df-delta sidecar: the fraction of dfs rows a
    * vacuum's recompaction would drop — accumulated per-batch delta
    * history over the one-row-per-live-shingle floor. This is the one
    * store whose READ cost grows between vacuums even when nothing is
    * tombstoned (every append adds one row per distinct batch shingle;
    * the cap-crossing detection reads the touched buckets' whole
    * history), so the retention tick arms the dedup slot on it exactly
    * like a reclaimable row fraction. One dfs-only scan (two-long
    * rows); distinct (bucket, sh) is the recompacted floor — a lower
    * bound on the true reclaim when tombstones would drop shingles
    * entirely, so the trigger is conservative. */
  def dedupDfsReclaimableFraction(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val dfs = new org.apache.hadoop.fs.Path(s"$path/dfs")
    if (!dfs.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dfs))
      return 0.0
    val r = IndexLayout.DedupSig.read(spark, path, "dfs")
      .agg(count(lit(1)).as("total"),
        countDistinct($"bucket", $"sh").as("live")).head()
    val total = r.getLong(0)
    if (total == 0L) 0.0 else 1.0 - r.getLong(1).toDouble / total
  }

  /** Score a new doc batch against the persisted reference index —
    * [[crossDedupPairs]]'s semantics with the reference side read
    * from disk, in O(batch buckets + hot buckets + docs), never
    * O(postings): committed batches only, tombstones filtered, the
    * pair join statically pruned to the new batch's shingle buckets,
    * and the df-cap/size statistics resolved from the index's stats
    * sidecars instead of a full postings aggregate —
    *
    *   - the EXACT hot set re-counts only the hot-CANDIDATE log's
    *     shingles in their own buckets (the log is a superset by
    *     construction: df can only cross the cap during an append
    *     that contains the shingle, and that append records it;
    *     deletes only shrink df, and the re-count scores them out);
    *   - per-doc capped sizes = the `sizes/` sidecar's raw counts
    *     (O(docs) two-long rows, the bm25-doclens posture) minus each
    *     candidate doc's live hot-shingle rows, which live entirely
    *     in the candidates' buckets.
    *
    * `dfCap` must equal the cap the index was built with (persisted
    * in the commit log — a serve can never silently retune the
    * boilerplate cutoff; rebuild to retune). `snapshot` pins the
    * serve to a committed set (`IndexLayout.DedupSig.committed`), the
    * bm25Snapshot posture. */
  /** The re-crawl snapshot's shingle postings (doc_id + BigOffset):
    * every full-snapshot serve drill (cross_dedup_serve, the
    * dedup/fleet/stream catalog drills, fleet_rollback_serve,
    * stream_dedup_index) probes ITS OWN index with the SAME batch, whose
    * shingles are the session [[DocFeatures]]' under the twin id shift.
    * Shingle rows are doc-local, so callers serving an id-filtered
    * slice of the snapshot filter this table identically. */
  private[graft] def neuShinglesFor(spark: SparkSession, dir: String): DataFrame =
    DocFeatures.shingles(DocFeatures.forDir(spark, dir)
      .withColumn("doc_id", col("doc_id") + BigOffset))

  def dedupServe(spark: SparkSession, path: String, newDocs: DataFrame,
                 threshold: Double = 0.5, dfCap: Int = 100,
                 snapshot: Option[Seq[String]] = None,
                 shingled: Option[DataFrame] = None): DataFrame = {
    import spark.implicits._
    val L = IndexLayout.DedupSig
    val log = L.log(spark, path)
    val (nBuckets, cap) = (L.pinned(log, path, "n_buckets"), L.pinned(log, path, "df_cap"))
    require(dfCap == cap,
      s"dedupServe: dfCap=$dfCap differs from the index's pinned df_cap=$cap " +
        s"at $path — retuning the cutoff needs a rebuild, not a serve flag")
    val committed = snapshot.getOrElse(L.batches(log))
    val dead = L.tombstones(spark, path, committed).toDF("doc_id")
    def livePost(bs: Seq[Int]): DataFrame = L.read(spark, path, "postings")
      .filter($"bucket".isin(bs: _*))
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .drop("bucket", "batch_id")
    // the batch shingles and the hot-candidate log are INDEPENDENT
    // reads — materialize them concurrently, and fold each side's
    // bucket-id collect into its own leg, so the serve's serialized
    // driver-metadata jobs overlap (guide §2.6; r16 verdict item 7)
    var pn: DataFrame = null
    var buckets: Seq[Int] = null
    var cand: DataFrame = null
    var candBuckets: Seq[Int] = null
    graft.Par.jobs(
      () => {
        // a caller-provided batch shingle table (the session memo) is
        // already checkpointed; the bucket set still derives per serve
        // (nBuckets is the index's own parameter)
        pn = shingled.getOrElse(shinglePostings(newDocs).localCheckpoint())
        buckets = IndexLayout.partitionsOf(
          pn.select(pmod($"sh", lit(nBuckets)).cast("int").as("b")))
      },
      () => {
        // exact hot set from the candidate log (bucket-bounded re-count)
        cand = L.read(spark, path, "hotcand")
          .filter($"batch_id".isin(committed: _*))
          .select($"sh", $"bucket")
          .distinct().localCheckpoint()
        candBuckets = IndexLayout.partitionsOf(cand.select($"bucket"))
      })
    // eager: the candidates' live rows feed the hot re-count AND the
    // per-doc size correction
    val hotRows = livePost(candBuckets)
      .join(cand.select($"sh").distinct(), Seq("sh"), "left_semi")
      .localCheckpoint()
    val hot = broadcast(hotRows.groupBy($"sh").agg(count(lit(1)).as("df"))
      .filter($"df" > cap).select($"sh"))
    // capped ref sizes: sidecar raw counts minus live hot-row counts
    val hotCnt = hotRows.join(hot, Seq("sh"), "left_semi")
      .groupBy($"doc_id").agg(count(lit(1)).as("n_hot"))
    val sizesR = L.read(spark, path, "sizes")
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .groupBy($"doc_id").agg(sum($"n_raw").as("n_raw"))
      .join(hotCnt, Seq("doc_id"), "left_outer")
      .select($"doc_id", ($"n_raw" - coalesce($"n_hot", lit(0L))).as("n_ref"))
      .filter($"n_ref" > 0)
    val n = pn.join(hot, Seq("sh"), "left_anti")
    val sizesN = n.groupBy($"doc_id").agg(count(lit(1)).as("n_new"))
    val r = livePost(buckets).join(hot, Seq("sh"), "left_anti")
    pairTail(n, r, sizesN, sizesR, threshold)
  }

  /** C4c `cross_dedup_serve` — the incremental-dedup lifecycle under
    * the gate: 70%-prefix index build → 30% batch append → tombstone
    * delete of every 7th reference doc → serve the full re-crawl
    * snapshot (ids + BigOffset) against the index. HASH-EQUAL to
    * `cross_dedup`'s oracle recomputed on the surviving reference
    * through the independent engine — df caps, capped sizes and every
    * pair shift exactly with the appends and deletes. */
  def crossDedupServe(spark: SparkSession, dir: String, threshold: Double = 0.5,
                      dfCap: Int = 100): DataFrame = {
    import spark.implicits._
    val ref = Tables.documents(spark, dir).select($"doc_id", $"text")
    // a corpus with no shingles writes no postings partitions and a
    // schemaless dir is unreadable — serve the empty result instead
    if (shinglePostings(ref).isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("new_id", "ref_id", "n_inter", "jaccard")
    val cut = Tables.prefixCut(ref).get
    val neu = ref.select(($"doc_id" + BigOffset).as("doc_id"), $"text")
    graft.sources.Lake.withScratchIndex(spark, "graft_dedup_idx") { tmp =>
      // the 70%-prefix build promotes from the session template (the
      // same snapshot key the catalog drills use — one shingle pass
      // per session, r17 opt); the appends/deletes then mutate this
      // drill's OWN physical copy, so the lifecycle under test is
      // unchanged
      Artifacts.promote(spark,
        dedupSigTemplate(spark, dir, Some(cut), dfCap))(tmp)
      dedupIndexAppend(Tables.fanout(ref.filter($"doc_id" > cut)), tmp)
      IndexLayout.DedupSig.delete(spark, tmp, ref.filter($"doc_id" % 7 === 0))
      dedupServe(spark, tmp, Tables.fanout(neu), threshold, dfCap,
        shingled = Some(neuShinglesFor(spark, dir)))
    }
  }

  /** ONE canonical dedup_sig template builder per (corpus snapshot,
    * dfCap) — every key-sharing call site (fleet drill, catalog /
    * stream drills, the lifecycle gates' prefix builds) routes
    * through here, so a parameter drift at one site is impossible
    * (the r16 ADVICE fix made structural). */
  private[graft] def dedupSigTemplate(spark: SparkSession, dir: String,
                                      cutId: Option[Long],
                                      dfCap: Int = 100): String =
    Artifacts.directory(spark, Artifacts.DedupSigTemplate, dir,
      Seq(cutId.fold("full")(_.toString), dfCap)) { d =>
      import spark.implicits._
      val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      dedupIndexWrite(Tables.fanout(
        cutId.fold(docs)(c => docs.filter($"doc_id" <= c))), d, dfCap = dfCap)
    }

  /** C4d `dedup_catalog_serve` — the dedup-signature family's
    * CROSS-PROCESS deployment story ([[graft.operators.TextAnalysis
    * .bm25CatalogServe]]'s posture for this index kind): a maintenance
    * process builds the epoch-1 signature index (70% of the reference)
    * into a catalog under kind `dedup_sig` (the SAME kind word
    * MaintenanceMain's fleet grammar uses, so a `catalog= key=` fleet
    * line resolves these registrations with no ckind mapping), the
    * corpus drifts, epoch-2 rebuilds on the full reference and
    * supersedes by seq, the vacuum reclaims the superseded store
    * ([[graft.sources.Catalog.drill]]), and a serving process that
    * knows only the catalog root resolves by manifest lookup and
    * serves the re-crawl snapshot. HASH-EQUAL to `cross_dedup`'s from-scratch oracle on
    * the full reference — the catalog lifecycle must be
    * answer-invisible. */
  def dedupCatalogServe(spark: SparkSession, dir: String,
                        threshold: Double = 0.5, dfCap: Int = 100): DataFrame = {
    import spark.implicits._
    val ref = Tables.documents(spark, dir).select($"doc_id", $"text")
    if (shinglePostings(ref).isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("new_id", "ref_id", "n_inter", "jaccard")
    val neu = ref.select(($"doc_id" + BigOffset).as("doc_id"), $"text")
    // the epoch stores are copies of the session templates the fleet
    // drill builds too (one shingle pass per corpus snapshot)
    Catalog.drill(spark, "graft_dedup_cat", s"corpus:$dir dfCap=$dfCap", Tables.prefixCut(ref).get)(
      "dedup_sig" -> (dedupSigTemplate(spark, dir, _, dfCap))) { p =>
      dedupServe(spark, p("dedup_sig"), Tables.fanout(neu), threshold, dfCap,
        shingled = Some(neuShinglesFor(spark, dir)))
    }
  }

  /** `refPred` restricts the oracle's reference corpus — the
    * from-scratch recompute the index-delete gate (C4c) compares
    * the tombstoned serve against. */
  def crossDedupSql(threshold: Double = 0.5, dfCap: Int = 100,
                    refPred: String = "TRUE",
                    newPred: String = "TRUE"): String =
    s"""WITH reft AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents WHERE $refPred),
       |newt AS (
       |  SELECT doc_id + $BigOffset AS doc_id, string_split_regex(trim(text), '\\s+') AS l
       |  FROM documents WHERE $newPred),
       |pr AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(l) - 2), i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS sh
       |  FROM reft WHERE len(l) >= 3),
       |pn AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(l) - 2), i -> l[i+1] || ' ' || l[i+2] || ' ' || l[i+3]))) AS sh
       |  FROM newt WHERE len(l) >= 3),
       |hot AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM pr GROUP BY 1) WHERE df > $dfCap),
       |r AS (SELECT * FROM pr ANTI JOIN hot USING (sh)),
       |n AS (SELECT * FROM pn ANTI JOIN hot USING (sh)),
       |sr AS (SELECT doc_id, COUNT(*) AS n_ref FROM r GROUP BY 1),
       |sn AS (SELECT doc_id, COUNT(*) AS n_new FROM n GROUP BY 1),
       |inter AS (
       |  SELECT n.doc_id AS new_id, r.doc_id AS ref_id, COUNT(*) AS n_inter
       |  FROM n JOIN r USING (sh) GROUP BY 1, 2)
       |SELECT new_id, ref_id, n_inter,
       |       CAST(n_inter AS DOUBLE) / CAST(sn.n_new + sr.n_ref - n_inter AS DOUBLE) AS jaccard
       |FROM inter
       |JOIN sn ON sn.doc_id = new_id
       |JOIN sr ON sr.doc_id = ref_id
       |WHERE CAST(n_inter AS DOUBLE) / CAST(sn.n_new + sr.n_ref - n_inter AS DOUBLE) >= $threshold""".stripMargin

  /** C14 `dedup_cluster` (and C14b `dedup_cluster_star`, the same
    * entry) — transitive closure of near-dup pairs into clusters with
    * one keeper per cluster: the step that turns pairwise detections
    * into an actual dedup decision (pairs A~B, B~C must keep ONE of
    * {A,B,C}). Cluster id = min doc id reachable; keeper = the node
    * equal to its cluster id; only nodes that take part in a pair
    * appear. The closure is [[starContract]] over C4's pair edges.
    * Oracle: recursive CTE over the identical edge set. */
  def dedupCluster(spark: SparkSession, dir: String, threshold: Double = 0.5): DataFrame =
    Artifacts.value(spark, Artifacts.Clusters, dir, threshold) {
      starContract(ngramJaccardDedup(spark, dir, threshold).select(col("id1"), col("id2")))
    }

  /** Connected components of a pair graph ((id1, id2) edges) via
    * LARGE-STAR / SMALL-STAR contraction (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014) — the one closure
    * kernel: [[dedupCluster]], semdedup's dup groups and
    * `mm_phash_cluster` all run through it. The star operators contract
    * every tree toward its minimum in O(log²) rounds regardless of
    * shape (a 1000-link chain takes ~10 rounds, not 1000), and nothing
    * is ever collected per key (no collect_list; the neighborhood min
    * distributes through a hash aggregate, so a 10⁸-degree hub costs
    * the same per row as a degree-2 node).
    *
    * Round = large-star (every neighbor above a node links to that
    * node's neighborhood-min) then small-star (every neighbor below a
    * node re-links to its min), each emitted through one join against a
    * per-node min table. Edges stay canonical (u > v). A round is ONE
    * plan and one checkpoint: large-star's edges are hash-partitioned
    * by u, so small-star's min aggregate and its join read them in
    * place, through one reused exchange.
    *
    * The loop stops as soon as a generation is a min-rooted star
    * forest — every source u has exactly one out-edge and no target is
    * also a source ([[isStarForest]], one aggregate over the
    * checkpointed generation). Both operators preserve components, and
    * a star whose leaves all sit above its root is rooted at its
    * component's minimum, so then the edges ARE the labels: u → v, and
    * each root v → itself. Exhausting maxIters without reaching a star
    * forest throws rather than emitting mid-contraction labels (raise
    * maxIters for graphs beyond ~2^maxIters nodes of pure chain).
    *
    * Both large-star branches of the first round read the input (a
    * lazy input's own exchanges are reused, its last stage runs twice),
    * so it is not checkpointed here. Only nodes with an edge to a
    * DIFFERENT node appear (every caller's edges have id1 < id2). */
  def starContract(pairs: DataFrame, maxIters: Int = 20): DataFrame = {
    import pairs.sparkSession.implicits._
    // duplicate edges are fine: large-star's distinct drops them
    var edges = pairs
      .select(greatest($"id1", $"id2").as("u"), least($"id1", $"id2").as("v"))
    var converged = false
    var i = 0
    while (!converged && i < maxIters) {
      // large-star: process each edge from both endpoints; node s links
      // every LARGER neighbor d to m(s) = min(Γ(s) ∪ {s}) < d
      val bi = edges.select(explode(array(
          struct($"u".as("s"), $"v".as("d")),
          struct($"v".as("s"), $"u".as("d")))).as("e"))
        .select($"e.s", $"e.d")
      val lsMin = bi.groupBy($"s").agg(least(min($"d"), $"s").as("m"))
      val ls = bi.filter($"d" > $"s").join(lsMin, Seq("s"))
        .select($"d".as("u"), $"m".as("v"))
        .repartition($"u").distinct()
      // small-star on the canonical orientation: all of u's neighbors
      // are below it; re-link them (and u) to the minimum
      val ssMin = ls.groupBy($"u").agg(min($"v").as("m"))
      edges = ls.join(ssMin, Seq("u"))
        .select(explode(array(
          struct($"v".as("u"), $"m".as("v")),
          struct($"u".as("u"), $"m".as("v")))).as("e"))
        .select($"e.u", $"e.v")
        .filter($"u" =!= $"v")
        .distinct().localCheckpoint() // superseded generations → GC'd
      converged = isStarForest(edges)
      i += 1
    }
    require(converged,
      s"starContract did not converge within $maxIters rounds — raise maxIters")
    val roots = edges.select($"v".as("doc_id")).distinct()
    edges.select($"u".as("doc_id"), $"v".as("cluster_id"))
      .unionAll(roots.select($"doc_id", $"doc_id".as("cluster_id")))
      .withColumn("is_keeper", $"doc_id" === $"cluster_id")
  }

  /** Whether canonical (u > v) edges form a min-rooted star forest: no
    * node is some edge's u and also has a second edge. One aggregate
    * over the nodes' incidences. */
  private def isStarForest(edges: DataFrame): Boolean = {
    import edges.sparkSession.implicits._
    edges.select(explode(array(
        struct($"u".as("n"), lit(true).as("src")),
        struct($"v".as("n"), lit(false).as("src")))).as("e"))
      .groupBy($"e.n").agg(max($"e.src").as("src"), count(lit(1)).as("deg"))
      .filter($"src" && $"deg" > 1)
      .limit(1).isEmpty
  }

  def dedupClusterSql(threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (${ngramJaccardDedupSql(threshold)}),
       |bi AS (SELECT id1 AS n, id2 AS nbr FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |reach(n, m) AS (
       |  SELECT DISTINCT n, n FROM bi
       |  UNION
       |  SELECT r.n, b.nbr FROM reach r JOIN bi b ON r.m = b.n)
       |SELECT n AS doc_id, MIN(m) AS cluster_id,
       |       n = MIN(m) AS is_keeper
       |FROM reach GROUP BY n""".stripMargin

  /** Extension `dedup_keep_best` — the decision step a dedup pipeline
    * actually ships: ONE representative per near-dup cluster, chosen by
    * quality ([[TextAnalysis.qualityFrom]], C9's scorer), not by
    * lowest-id. Cluster membership comes from [[dedupCluster]] over the
    * same doubled corpus; documents outside every cluster (no near-dup)
    * form their own singleton cluster and keep themselves. Keeper =
    * the max-quality member, ties broken by min doc_id — deterministic,
    * and since both planted copies score identically, the tiebreak is
    * what picks the original over its re-crawl twin.
    *
    * Scale: the argmax is TWO PRIMITIVE HASH AGGREGATES — max(quality)
    * per cluster, then min(doc_id) over the max-quality members — both
    * HashAggregateExec with map-side partial agg, so a million-member
    * degenerate cluster costs one row per map task and nothing ever
    * sorts. (The tempting one-pass forms both degrade silently:
    * max(struct(quality, -doc_id)) AND max_by(doc_id, struct(...))
    * plan as SortAggregate, because struct aggregation buffers aren't
    * hash-aggregable — PlanAuditSpec pins the hash-only shape.) The
    * per-cluster best tables are 1 row per cluster, unhinted — AQE
    * broadcasts them when small, shuffles when not. */
  /** (members, per-cluster argmax) of the keep-best decision — the
    * shared core of [[dedupKeepBest]] (which joins the keeper bit back
    * onto every member) and [[keepBestIds]] (which only needs the
    * keeper id set and skips that final join). */
  private def keepBestParts(spark: SparkSession, dir: String,
                            threshold: Double): (DataFrame, DataFrame) =
    Artifacts.value(spark, Artifacts.KeepBest, dir, threshold) {
      keepBestPartsUncached(spark, dir, threshold)
    }

  private def keepBestPartsUncached(spark: SparkSession, dir: String,
                                    threshold: Double): (DataFrame, DataFrame) = {
    import spark.implicits._
    val q = TextAnalysis.qualityFrom(DocFeatures.withTwins(DocFeatures.forDir(spark, dir)))
      .select($"doc_id", $"quality")
    val clusters = dedupCluster(spark, dir, threshold)
      .select($"doc_id", $"cluster_id")
    // eager (materialization contract, see header): lab feeds the
    // max-quality agg AND both join probes here and in the manifest's
    // keeper set — lazy, each consumer re-runs the cluster join
    val lab = q.join(clusters, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"cluster_id", $"doc_id").as("cluster_id"), $"quality")
      .localCheckpoint()
    // argmax = max quality, ties → min doc_id; doc_id is unique within
    // a cluster, so the keeper is deterministic. quality values come
    // from one shared computation, so float equality is exact here.
    val bq = lab.groupBy($"cluster_id").agg(max($"quality").as("bq"))
    val bestId = lab.join(bq, Seq("cluster_id"))
      .filter($"quality" === $"bq")
      .groupBy($"cluster_id").agg(min($"doc_id").as("best_id"))
    (lab, bestId)
  }

  def dedupKeepBest(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val (lab, bestId) = keepBestParts(spark, dir, threshold)
    lab.join(bestId, Seq("cluster_id"))
      .withColumn("keep", ($"doc_id" === $"best_id").cast("boolean"))
      .select($"doc_id", $"cluster_id", $"quality", $"keep")
  }

  /** Just the keeper id set (one row per cluster) — what a downstream
    * curation filter actually consumes; skips [[dedupKeepBest]]'s
    * member join-back entirely. */
  private[operators] def keepBestIds(spark: SparkSession, dir: String,
                                     threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    keepBestParts(spark, dir, threshold)._2.select($"best_id".as("doc_id"))
  }

  def dedupKeepBestSql(threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (${ngramJaccardDedupSql(threshold)}),
       |bi AS (SELECT id1 AS n, id2 AS nbr FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |reach(n, m) AS (
       |  SELECT DISTINCT n, n FROM bi
       |  UNION
       |  SELECT r.n, b.nbr FROM reach r JOIN bi b ON r.m = b.n),
       |clusters AS (SELECT n AS doc_id, MIN(m) AS cluster_id
       |             FROM reach GROUP BY n),
       |corpus2 AS (SELECT doc_id, text FROM documents
       |            UNION ALL SELECT doc_id + $BigOffset, text FROM documents),
       |q AS (SELECT doc_id, quality
       |      FROM (${TextAnalysis.qualityScoreSqlFrom("corpus2")})),
       |lab AS (SELECT q.doc_id,
       |               COALESCE(c.cluster_id, q.doc_id) AS cluster_id,
       |               q.quality
       |        FROM q LEFT JOIN clusters c ON c.doc_id = q.doc_id)
       |SELECT doc_id, cluster_id, quality,
       |       (row_number() OVER (PARTITION BY cluster_id
       |                           ORDER BY quality DESC, doc_id)) = 1 AS keep
       |FROM lab""".stripMargin

  /** Extension `pagerank_pairs` — PageRank centrality over the
    * near-dup pair graph (C4's edges, undirected): the
    * graph-importance signal a curation pipeline reads alongside
    * [[dedupKeepBest]]'s quality argmax — a doc tied into many
    * near-dup neighborhoods is boilerplate-heavy, and centrality
    * ranks exemplars inside large clusters.
    *
    * INTEGER arithmetic end-to-end: ranks live in micro-units
    * (r₀ = 1 000 000) and each iteration computes
    * r' = 150 000 + (850 · Σ_{u~v} (r_u div deg_u)) div 1000 —
    * damping 0.85 as exact integer scaling with floor division in
    * both engines, so the five iterations are bit-reproducible
    * cross-engine and the query HASH-GATES against five unrolled CTE
    * iterations in DuckDB ([[pagerankPairsSql]]). Isolated/dangling
    * docs keep the teleport floor 150 000; leaked dangling mass is
    * intentionally not redistributed (the standard simplification,
    * mirrored in the oracle). Rank sums stay far inside Long: cin ≤
    * Σr ≤ n·10⁶ micro-units, ×850 ≈ 10¹⁶ even at 10⁷ docs.
    *
    * Scale: edges come from the memoized [[ngramJaccardDedup]] table
    * (built once per registry run); each iteration is one
    * shuffle-join (edges ⨝ ranks on src) + one hash-agg (Σ per dst)
    * + a left join back to the node set — the Pregel-as-join-agg
    * shape, cost = iters × |edges| with no driver-side state beyond
    * loop control. Unlike [[starContract]] (unbounded rounds → must
    * checkpoint), the FIXED five iterations chain as one declarative
    * plan — und/deg materialize once and Catalyst schedules the five
    * join-aggs without per-iteration materialization barriers. */
  def pagerankPairs(spark: SparkSession, dir: String, iters: Int = 5,
                    threshold: Double = 0.5, dfCap: Int = 100): DataFrame =
    Artifacts.value(spark, Artifacts.PageRank, dir, threshold, dfCap, iters) {
      import spark.implicits._
      pagerankGraph(corpus(spark, dir).select($"doc_id"),
        ngramJaccardDedup(spark, dir, threshold, dfCap), iters).localCheckpoint()
    }

  /** Graph core of `pagerank_pairs`: nodes = (doc_id), edges =
    * (id1, id2) read undirected — exposed frame-based so the spec can
    * pin crafted graphs against a driver-side reference. */
  private[graft] def pagerankGraph(nodes: DataFrame, edges: DataFrame,
                                   iters: Int): DataFrame = {
    import nodes.sparkSession.implicits._
    val und = edges.select($"id1".as("src"), $"id2".as("dst"))
      .unionAll(edges.select($"id2".as("src"), $"id1".as("dst")))
      .localCheckpoint()
    val deg = und.groupBy($"src").agg(count(lit(1)).as("deg")).localCheckpoint()
    var r = nodes.select($"doc_id", lit(1000000L).as("r"))
    (1 to iters).foreach { _ =>
      val contrib = und.join(r.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select($"dst".as("doc_id"), expr("r div deg").as("c"))
        .groupBy($"doc_id").agg(sum($"c").as("cin"))
      r = nodes.join(contrib, Seq("doc_id"), "left")
        .select($"doc_id",
          (lit(150000L) + expr("(850 * coalesce(cin, 0L)) div 1000")).as("r"))
    }
    r.select($"doc_id", $"r".as("rank_units"))
  }

  /** Oracle for `pagerank_pairs`: the C4 pair CTE + `iters` unrolled
    * integer iterations — floor division and damping scaling exactly
    * as the engine computes them. */
  def pagerankPairsSql(iters: Int = 5, threshold: Double = 0.5,
                       dfCap: Int = 100): String = {
    val its = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT u.dst AS doc_id, SUM(r.r // d.deg) AS cin
         |  FROM und u JOIN r${i - 1} r ON u.src = r.doc_id
         |       JOIN deg d ON d.src = u.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT n.doc_id,
         |         CAST(150000 + (850 * COALESCE(c.cin, 0)) // 1000 AS BIGINT) AS r
         |  FROM nodes n LEFT JOIN c$i c USING (doc_id))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (SELECT id1, id2 FROM (
       |${ngramJaccardDedupSql(threshold, dfCap)}
       |) pq),
       |nodes AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset FROM documents),
       |und AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |        UNION ALL SELECT id2, id1 FROM pairs),
       |deg AS (SELECT src, COUNT(*) AS deg FROM und GROUP BY 1),
       |r0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS r FROM nodes),
       |$its
       |SELECT doc_id, r AS rank_units FROM r$iters""".stripMargin
  }

  /** C14e `dedup_weights` — SOFT dedup: instead of dropping a near-dup
    * cluster's non-keepers outright (C14c's hard decision), every
    * member gets a training weight 1/cluster_size, so the cluster's
    * TOTAL contribution to the loss equals one document's — the
    * duplicate-downweighting alternative recent data-curation work
    * prefers when near-dups carry complementary fragments worth a
    * diluted gradient rather than zero. Weights are integer
    * parts-per-million (⌊10⁶ div size⌋ — floor division in both
    * engines, so the gate hash-compares them exactly); singletons
    * (docs outside every near-dup cluster) weigh the full 10⁶.
    *
    * Scale: cluster membership is the memoized [[dedupCluster]] table
    * (built once per registry run; star contraction over C4's LSH
    * edges — never all-pairs); sizes are ONE hash agg over that table,
    * and the size join's build side is cluster-cardinality (AQE
    * broadcasts it when small). Nothing new shuffles the corpus. */
  def dedupWeights(spark: SparkSession, dir: String,
                   threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val clusters = dedupCluster(spark, dir, threshold)
      .select($"doc_id", $"cluster_id")
    val lab = corpus(spark, dir).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
    val sizes = lab.groupBy($"cluster_id").agg(count(lit(1)).as("cluster_size"))
    lab.join(sizes, Seq("cluster_id"))
      .select($"doc_id", $"cluster_id", $"cluster_size",
        expr("1000000L div cluster_size").as("weight_ppm"))
  }

  /** C14e oracle: C14's recursive-reachability clusters + the same
    * ppm floor division in DuckDB. */
  def dedupWeightsSql(threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (${ngramJaccardDedupSql(threshold)}),
       |bi AS (SELECT id1 AS n, id2 AS nbr FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |reach(n, m) AS (
       |  SELECT DISTINCT n, n FROM bi
       |  UNION
       |  SELECT r.n, b.nbr FROM reach r JOIN bi b ON r.m = b.n),
       |clusters AS (SELECT n AS doc_id, MIN(m) AS cluster_id
       |             FROM reach GROUP BY n),
       |nodes AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset FROM documents),
       |lab AS (SELECT nodes.doc_id,
       |               COALESCE(c.cluster_id, nodes.doc_id) AS cluster_id
       |        FROM nodes LEFT JOIN clusters c USING (doc_id)),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size
       |          FROM lab GROUP BY 1)
       |SELECT doc_id, cluster_id, cluster_size,
       |       1000000 // cluster_size AS weight_ppm
       |FROM lab JOIN sizes USING (cluster_id)""".stripMargin

  /** C14f `leak_safe_split` — near-dup-aware train/val/test assignment:
    * F4 splits by doc hash, which lets a near-duplicate PAIR straddle
    * train and test — the eval-contamination path F3's decontaminate
    * can't see (the test twin isn't a benchmark doc, it's the corpus's
    * own re-crawl). Here the split key is the doc's near-dup CLUSTER
    * representative (C14's cluster id; singletons key by
    * themselves), so every cluster lands whole in one split — with
    * F4's exact salt and 80/10/10 cuts, making this a REFINEMENT of
    * F4: docs outside every cluster keep their F4 assignment
    * bit-for-bit (spec-pinned), only clustered docs move (onto their
    * representative's draw).
    *
    * Scale: cluster membership is the memoized [[dedupCluster]] table
    * (LSH edges, never all-pairs); the label join's build side is
    * cluster-cardinality (AQE-broadcast), the bucket is one per-row
    * md5 — nothing new shuffles the corpus, same volume class as C14e. */
  def leakSafeSplit(spark: SparkSession, dir: String,
                    threshold: Double = 0.5): DataFrame = {
    import spark.implicits._
    val clusters = dedupCluster(spark, dir, threshold)
      .select($"doc_id", $"cluster_id")
    corpus(spark, dir).select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("group_id"))
      .withColumn("bucket",
        conv(substring(md5(concat($"group_id".cast("string"), lit(":split"))), 1, 8), 16, 10)
          .cast("long") % 100)
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
  }

  /** C14f oracle: C14's recursive-reachability labels + F4's md5
    * bucket arithmetic on the group key. */
  def leakSafeSplitSql(threshold: Double = 0.5): String =
    s"""WITH RECURSIVE pairs AS (${ngramJaccardDedupSql(threshold)}),
       |bi AS (SELECT id1 AS n, id2 AS nbr FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |reach(n, m) AS (
       |  SELECT DISTINCT n, n FROM bi
       |  UNION
       |  SELECT r.n, b.nbr FROM reach r JOIN bi b ON r.m = b.n),
       |clusters AS (SELECT n AS doc_id, MIN(m) AS cluster_id
       |             FROM reach GROUP BY n),
       |nodes AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset FROM documents),
       |grp AS (SELECT nodes.doc_id,
       |               COALESCE(c.cluster_id, nodes.doc_id) AS group_id
       |        FROM nodes LEFT JOIN clusters c USING (doc_id)),
       |bk AS (SELECT doc_id, group_id,
       |              CAST(('0x' || substr(md5(CAST(group_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 AS bucket
       |       FROM grp)
       |SELECT doc_id, group_id, bucket,
       |       CASE WHEN bucket < 80 THEN 'train'
       |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
       |FROM bk""".stripMargin

  /** C11 `doc_fingerprint` — winnowing (rolling-hash) fingerprints:
    * hash every char 8-gram, keep the minimum of each sliding window of
    * 4 hashes, distinct. Guarantees any shared substring ≥ 11 chars
    * yields a shared fingerprint (the winnowing theorem), with density
    * 2/(w+1). Per-row higher-order fns only — scan-speed at any scale.
    * The gram hash is md5-derived (first 8 hex chars → int64) because
    * both engines compute md5 bit-identically, which upgrades this from
    * a rows-only check to a HASH-GATED query; the winnowing property is
    * hash-agnostic, so a production deployment swaps in xxhash64 for
    * throughput without changing any other line. Output carries the
    * fingerprint-set size and its order-independent xor digest. */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    corpus(spark, dir)
      .filter(length($"text") >= 11)
      .withColumn("grams", expr(
        """transform(sequence(1, length(text) - 7),
          |  i -> cast(conv(substring(md5(substring(text, i, 8)), 1, 8), 16, 10) as bigint))"""
          .stripMargin))
      .withColumn("fingerprints", expr(
        """array_distinct(transform(sequence(0, size(grams) - 4),
          |  w -> array_min(slice(grams, w + 1, 4))))""".stripMargin))
      .select($"doc_id",
        size($"fingerprints").as("n_fingerprints"),
        expr("aggregate(fingerprints, 0L, (acc, x) -> acc ^ x)").as("fp_xor"))
  }

  /** C24 `substring_dedup` — EXACT SUBSTRING duplication audit: the
    * character-level dedup signal (verbatim spans re-used across
    * documents — quotations, boilerplate, partial re-crawls) that
    * doc-level (C1) and token-shingle (C2-C4) methods miss. Corpus =
    * documents ∪ a planted PARTIAL re-crawl (first 3/5 of each doc's
    * normalized chars + a twin-unique tail), so the operator provably
    * reports high dup_pct on overlaps an exact-hash dedup cannot see.
    *
    * Window selection is CONTENT-DEFINED (the winnowing/CDC anchor
    * trick, rsync-style): position i is an anchor iff 16 md5 bits of
    * its 8-char prefix ≡ 0 (mod `anchorMod`), and each anchor hashes
    * its k-char window. Fixed-stride windows only match when two
    * occurrences agree on offset mod stride; content-defined anchors
    * select the SAME windows inside a shared span at ANY offset —
    * the property SubstringSpec pins. Expected window density 1/mod.
    *
    * Scale: per-row window extraction (HOFs, no UDF), one (doc, hash)
    * aggregate, the ≥2-distinct-docs hash set joined back on hash —
    * C4's posting shape, linear in total selected windows. md5 both
    * sides ⇒ fully hash-gated (C11's posture). */
  def substringDedup(spark: SparkSession, dir: String, k: Int = 64,
                     anchorMod: Int = 8): DataFrame =
    substringAudit(substringCorpus(spark, dir), k, anchorMod)

  /** C24's corpus: normalized documents ∪ the planted PARTIAL re-crawl
    * (first 3/5 of the chars + a twin-unique tail) — shared by batch
    * C24 and streaming E10 so their inputs cannot drift. */
  private[graft] def substringCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.documents(spark, dir).select($"doc_id",
      lower(trim(regexp_replace($"text", "\\s+", " "))).as("norm"))
    val twins = base.select(($"doc_id" + BigOffset).as("doc_id"),
      concat(expr("substring(norm, 1, (length(norm) * 3) div 5)"),
        lit(" zztail"), ($"doc_id" + BigOffset).cast("string")).as("norm"))
    Tables.fanout(base.unionAll(twins))
  }

  /** Content-defined window extraction of a (doc_id, norm) frame —
    * the shared signature pipeline of batch C24 and streaming E10
    * (one definition; mirrors [[substringWindowsCte]]). */
  private[graft] def substringWindows(docs: DataFrame, k: Int,
                                      anchorMod: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .filter(length($"norm") >= k)
      .select($"doc_id", explode(expr(
        s"""filter(transform(sequence(1, length(norm) - $k + 1),
           |  i -> if(cast(conv(substring(md5(substring(norm, i, 8)), 1, 4), 16, 10) as bigint)
           |            % $anchorMod = 0,
           |          md5(substring(norm, i, $k)), null)),
           |  x -> x is not null)""".stripMargin)).as("h"))
  }

  /** Frame-based core of C24 (docs = (doc_id, norm), pre-normalized) —
    * lets SubstringSpec pin the offset-robustness of the
    * content-defined anchors on crafted documents. */
  private[graft] def substringAudit(docs: DataFrame, k: Int,
                                    anchorMod: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val wins = substringWindows(docs, k, anchorMod)
    // eager: the per-(doc, window) table feeds the shared-hash set AND
    // both per-doc rollups (materialization contract)
    val pd = wins.groupBy($"doc_id", $"h").agg(count(lit(1)).as("m"))
      .localCheckpoint()
    val shared = pd.groupBy($"h").agg(count(lit(1)).as("ndocs"))
      .filter($"ndocs" >= 2).select($"h")
    val nWin = pd.groupBy($"doc_id").agg(sum($"m").as("n_win"))
    val nDup = pd.join(shared, Seq("h"))
      .groupBy($"doc_id").agg(sum($"m").as("n_dup"))
    nWin.join(nDup, Seq("doc_id"), "left")
      .select($"doc_id", $"n_win",
        coalesce($"n_dup", lit(0L)).as("n_dup"),
        expr("(100 * coalesce(n_dup, 0L)) div n_win").as("dup_pct"))
  }

  /** Shared CTE prefix of the C24/E10 oracles: normalized corpus with
    * partial-re-crawl twins → content-defined k-char window hashes.
    * Mirrors [[substringCorpus]]+[[substringWindows]]
    * construct-for-construct. */
  /** The corpus half of [[substringWindowsCte]] (base ∪ partial
    * re-crawl twins) — shared with the C24b strip oracle. */
  private def substringCorpusCte: String =
    s"""base AS (
       |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |corpus AS (
       |  SELECT doc_id, norm FROM base
       |  UNION ALL
       |  SELECT doc_id + $BigOffset,
       |         substr(norm, 1, (length(norm) * 3) // 5) || ' zztail' ||
       |           CAST(doc_id + $BigOffset AS VARCHAR)
       |  FROM base)""".stripMargin

  private def substringWindowsCte(k: Int, anchorMod: Int): String =
    s"""$substringCorpusCte,
       |w AS (
       |  SELECT doc_id, unnest(list_filter(list_transform(range(1, length(norm) - $k + 2),
       |           i -> CASE WHEN CAST(('0x' || substr(md5(substr(norm, i, 8)), 1, 4)) AS BIGINT)
       |                          % $anchorMod = 0
       |                     THEN md5(substr(norm, i, $k)) END),
       |         x -> x IS NOT NULL)) AS h
       |  FROM corpus WHERE length(norm) >= $k)""".stripMargin

  /** E10's oracle: window posts bucketed by the 56-bit md5-prefix key,
    * rank-truncation cap per bucket (the stream's admission
    * semantics), pairs scored by matching-half fraction — the same
    * formula the typed detector computes. */
  def substringTruncatedSql(bucketCap: Int = 1000, k: Int = 64,
                            anchorMod: Int = 8): String =
    s"WITH ${substringWindowsCte(k, anchorMod)},\n" +
    s"""p AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(h, 1, 14)) AS BIGINT) AS h1,
       |         MIN(CAST(('0x' || substr(h, 15, 14)) AS BIGINT)) AS h2
       |  FROM w GROUP BY 1, 2),
       |adm AS (
       |  SELECT * FROM (
       |    SELECT p.*, row_number() OVER (PARTITION BY h1 ORDER BY doc_id) AS rk
       |    FROM p)
       |  WHERE rk <= $bucketCap)
       |SELECT DISTINCT x.doc_id AS id1, y.doc_id AS id2,
       |       CAST(1 + CASE WHEN x.h2 = y.h2 THEN 1 ELSE 0 END AS DOUBLE) / 2
       |         AS est_jaccard
       |FROM adm x JOIN adm y ON x.h1 = y.h1 AND x.doc_id < y.doc_id""".stripMargin

  /** C24b `substring_dedup_strip` — the EXCISION C24 only audits:
    * Lee et al.'s exact-substring pipeline doesn't just measure
    * duplicated spans, it REMOVES them. Every k-char window shared by
    * ≥ 2 DISTINCT documents (C30's df convention — within-doc repeats
    * are content, not boilerplate) marks its character interval
    * [pos, pos+k) as duplicated in EVERY holder; per doc the marked
    * intervals union (gaps-and-islands merge over a doc-keyed
    * window — parallel per doc, never global), and the doc
    * reassembles from the complement segments in position order,
    * emitting (n_spans, n_removed, cleaned). Docs with no shared
    * window pass through byte-identical (spec-pinned, with
    * idempotence on a crafted corpus).
    *
    * Coverage is ANCHOR-RESOLUTION: windows exist only at
    * content-defined anchor positions (density 1/anchorMod), so a
    * shared span's first/last few bytes may survive where no anchored
    * window covers them — the scalable trade against Lee et al.'s
    * exact maximal-match suffix array, which cannot shard. Everything
    * md5-derived ⇒ fully hash-gated including the cleaned strings.
    *
    * Scale: the window posting table is C4's shape (one hash agg +
    * one semi-join); interval merge + reassembly are per-doc-keyed
    * windows and a bounded per-doc aggregate (a doc's own intervals),
    * the line_dedup reassembly posture — no global sort anywhere. */
  def substringStrip(spark: SparkSession, dir: String, k: Int = 64,
                     anchorMod: Int = 8): DataFrame =
    substringStripOf(substringCorpus(spark, dir), k, anchorMod)

  /** Frame-based core of C24b (docs = (doc_id, norm)) — lets
    * SubstringSpec pin untouched-doc byte-identity, exact excision
    * and idempotence on crafted corpora. */
  private[graft] def substringStripOf(docsIn: DataFrame, k: Int,
                                      anchorMod: Int): DataFrame = {
    import docsIn.sparkSession.implicits._
    // eager: the normalized corpus feeds the window extraction AND the
    // reassembly join (materialize-the-snapshot step; Lee et al.'s
    // pipeline materializes exactly this before its suffix pass)
    val docs = docsIn.localCheckpoint()
    val wins = positionedWindows(docs, k, anchorMod)
    val shared = wins.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"h")
    // duplicated intervals [pos, pos + k - 1]
    val iv = wins.join(shared, Seq("h"))
      .select($"doc_id", $"pos").distinct()
      .withColumn("e0", $"pos" + lit(k - 1))
    exciseIntervals(docs, iv)
  }

  /** Positioned variant of [[substringWindows]]: the strips need to
    * know WHERE each anchored window sits, not just its hash. Eager —
    * the table feeds a shared-hash aggregate AND the strike join. */
  private def positionedWindows(docs: DataFrame, k: Int,
                                anchorMod: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.filter(length($"norm") >= k)
      .select($"doc_id", explode(expr(
        s"""filter(transform(sequence(1, length(norm) - $k + 1),
           |  i -> if(cast(conv(substring(md5(substring(norm, i, 8)), 1, 4), 16, 10) as bigint)
           |            % $anchorMod = 0,
           |          named_struct('pos', i, 'h', md5(substring(norm, i, $k))), null)),
           |  x -> x is not null)""".stripMargin)).as("w"))
      .select($"doc_id", $"w.pos".as("pos"), $"w.h".as("h"))
      .localCheckpoint()
  }

  /** EXCISE marked character intervals (doc_id, pos, e0) from a
    * (doc_id, norm) corpus: gaps-and-islands merge per doc (touching
    * intervals merge: pos ≤ prev_end + 1), then the doc reassembles
    * from the complement segments in position order — shared by the
    * cross-doc strip (C24b) and the within-doc strip (C24c). */
  private def exciseIntervals(docs: DataFrame, iv: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val wOrd = Window.partitionBy($"doc_id").orderBy($"pos")
    val merged = iv
      .withColumn("pmax",
        max($"e0").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl",
        sum(when($"pmax".isNull || $"pos" > $"pmax" + 1, 1).otherwise(0))
          .over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"isl")
      .agg(min($"pos").as("s"), max($"e0").as("e"))
    // bounded per-doc aggregate: a doc's own merged spans (≤ len/k +
    // anchor gaps), sorted, then one HOF pass builds the complement
    val perDoc = merged.groupBy($"doc_id")
      .agg(array_sort(collect_list(struct($"s", $"e"))).as("iv"),
        count(lit(1)).as("n_spans"),
        sum(($"e" - $"s" + 1).cast("long")).as("n_removed"))
    docs.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_spans", lit(0L)).as("n_spans"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        when($"iv".isNull, $"norm").otherwise(expr(
          """aggregate(iv, named_struct('cur', 1, 'acc', ''),
            |  (st, x) -> named_struct('cur', x.e + 1,
            |    'acc', concat(st.acc, substring(norm, st.cur, x.s - st.cur))),
            |  st -> concat(st.acc,
            |    substring(norm, st.cur, length(norm) - st.cur + 1)))"""
            .stripMargin)).as("cleaned"))
  }

  /** C24b oracle: the same positioned windows, shared set, interval
    * merge (identical window-function formulation) and complement
    * reassembly (row-form: kept segment before each span + the tail,
    * string_agg in position order — provably the same complement the
    * engine's HOF pass builds). */
  /** The positioned-window CTEs (wp/wf) shared by the two strip
    * oracles — mirrors [[positionedWindows]]. */
  private def positionedWindowsCte(k: Int, anchorMod: Int): String =
    s"""wp AS (
       |  SELECT doc_id, unnest(list_filter(list_transform(range(1, length(norm) - $k + 2),
       |           i -> CASE WHEN CAST(('0x' || substr(md5(substr(norm, i, 8)), 1, 4)) AS BIGINT)
       |                          % $anchorMod = 0
       |                     THEN {'pos': i, 'h': md5(substr(norm, i, $k))} END),
       |         x -> x IS NOT NULL)) AS w
       |  FROM corpus WHERE length(norm) >= $k),
       |wf AS (SELECT doc_id, w.pos AS pos, w.h AS h FROM wp)""".stripMargin

  def substringStripSql(k: Int = 64, anchorMod: Int = 8): String =
    s"WITH $substringCorpusCte,\n" +
    s"""${positionedWindowsCte(k, anchorMod)},
       |sh AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM wf GROUP BY 1)
       |       WHERE nd >= 2),
       |ivl AS (SELECT DISTINCT doc_id, pos, pos + $k - 1 AS e0 FROM wf JOIN sh USING (h)),
       |$exciseSqlTail""".stripMargin

  /** The excision CTEs (merge + complement reassembly over `ivl` and
    * `corpus`) shared by the two strip oracles — mirrors
    * [[exciseIntervals]]. */
  private def exciseSqlTail: String =
    s"""m1 AS (SELECT doc_id, pos, e0,
       |         MAX(e0) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |       FROM ivl),
       |m2 AS (SELECT doc_id, pos, e0,
       |         SUM(CASE WHEN pmax IS NULL OR pos > pmax + 1 THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY pos
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |       FROM m1),
       |mg AS (SELECT doc_id, isl, MIN(pos) AS s, MAX(e0) AS e FROM m2 GROUP BY 1, 2),
       |lastE AS (SELECT doc_id, MAX(e) AS le FROM mg GROUP BY 1),
       |segs AS (
       |  SELECT doc_id,
       |         COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS ks,
       |         s - 1 AS ke
       |  FROM mg
       |  UNION ALL
       |  SELECT l.doc_id, l.le + 1 AS ks, length(c.norm) AS ke
       |  FROM lastE l JOIN corpus c USING (doc_id)),
       |cln AS (
       |  SELECT s.doc_id,
       |         string_agg(CASE WHEN s.ke >= s.ks
       |                         THEN substr(c.norm, s.ks, s.ke - s.ks + 1)
       |                         ELSE '' END, '' ORDER BY s.ks) AS cleaned
       |  FROM segs s JOIN corpus c USING (doc_id)
       |  GROUP BY 1),
       |stats AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       |                 CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
       |          FROM mg GROUP BY 1)
       |SELECT c.doc_id,
       |       COALESCE(st.n_spans, CAST(0 AS BIGINT)) AS n_spans,
       |       COALESCE(st.n_removed, CAST(0 AS BIGINT)) AS n_removed,
       |       COALESCE(cl.cleaned, c.norm) AS cleaned
       |FROM corpus c
       |LEFT JOIN stats st USING (doc_id)
       |LEFT JOIN cln cl USING (doc_id)""".stripMargin

  /** C1b's Bloom geometry: 32768 words × 62 usable bits ≈ 2.03M bits,
    * k = 4 probes. 62 bits per word because DuckDB's `<<` overflows at
    * shift 63 (and bit 62 keeps sign headroom) — the price of an
    * ENGINE-EXACT filter is two dead bits per word. At the bench SFs
    * the load n·k/m stays ≪ 1 (FP ~1e-4); production sizes m to its
    * corpus the same way. */
  private[graft] val BloomWords = 32768L
  private[graft] val BloomK = 4

  /** The k (word, bit) probe positions of each doc's normalized-text
    * hash — Kirsch–Mitzenmacher double hashing over md5's two 56-bit
    * halves (the C2/C3 portable-hash-family posture), identical
    * arithmetic in the oracle. */
  private def bloomProbes(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val m = BloomWords * 62L
    docs.withColumn("bh", md5($"norm"))
      .withColumn("h1", conv(substring($"bh", 1, 14), 16, 10).cast("long"))
      .withColumn("h2", conv(substring($"bh", 15, 14), 16, 10).cast("long"))
      .select($"doc_id", explode(expr(
        s"transform(sequence(0, ${BloomK - 1}), i -> (h1 + i * h2) % ${m}L)")).as("pos"))
      .select($"doc_id",
        expr("pos div 62").as("word"),
        ($"pos" % 62).cast("int").as("bit"))
  }

  /** BUILD the Bloom sidecar over a (doc_id, norm) corpus: one
    * explode → bit_or hash agg → ≤ [[BloomWords]] rows regardless of
    * corpus size. The nightly artifact C1b/E25 freeze. */
  private[graft] def bloomBuild(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    bloomProbes(docs)
      .select($"word", expr("shiftleft(1L, bit)").as("mask"))
      .groupBy($"word").agg(expr("bit_or(mask)").as("bits"))
      .localCheckpoint()
  }

  /** TAG a (doc_id, norm) batch against a frozen Bloom filter:
    * maybe_dup ⇔ all k probe bits are set. One broadcast join on
    * `word` + one per-doc count — stateless, so the identical call
    * tags a batch corpus or an arriving micro-batch (E25). */
  private[graft] def bloomTag(batch: DataFrame, filter: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    bloomProbes(batch)
      .join(broadcast(filter), Seq("word"), "left")
      .withColumn("hit",
        when($"bits".isNotNull &&
          (expr("bits & shiftleft(1L, bit)") =!= 0L), 1).otherwise(0))
      .groupBy($"doc_id")
      .agg(sum($"hit").as("n_hits"))
      .select($"doc_id", $"n_hits", ($"n_hits" === BloomK).as("maybe_dup"))
  }

  /** C1b `bloom_dedup_serve` — APPROXIMATE dedup admission via an
    * engine-exact Bloom filter: the compressed membership sidecar a
    * 100 TB ingest consults BEFORE touching the full signature index
    * (C4c's postings are exact but batch-bucket-sized reads; the Bloom
    * is ≤ 32768 rows TOTAL and broadcastable — a no-FN pre-screen
    * that lets clean batches skip the index entirely). Guarantees:
    * an exact duplicate of an indexed doc ALWAYS flags (no false
    * negatives — the Bloom property the spec pins); a novel doc
    * passes except with FP probability (1−e^(−kn/m))^k, ~1e-4 here.
    *
    * ENGINE-EXACT, unlike B16's built-in BloomFilterAggregate (whose
    * bits depend on Spark internals): positions come from md5's two
    * 56-bit halves via Kirsch–Mitzenmacher, words pack 62 bits
    * (DuckDB `<<` overflows at 63), build is bit_or over int64 words —
    * the oracle computes the identical filter, so flags, hit counts
    * AND the false positives hash-gate exactly.
    *
    * The served batch = an exact re-crawl (ids + 10⁶ — every row must
    * flag) ∪ synthetic novel docs (ids + 2·10⁶ — rows flag only by
    * FP). */
  def bloomDedupServe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", lower(trim(regexp_replace($"text", "\\s+", " "))).as("norm")))
    val filter = bloomBuild(base)
    val batch = base.select(($"doc_id" + BigOffset).as("doc_id"), $"norm")
      .unionAll(base.select(($"doc_id" + 2 * BigOffset).as("doc_id"),
        concat(lit("novel doc "), ($"doc_id" + 2 * BigOffset).cast("string")).as("norm")))
    bloomTag(batch, filter)
  }

  /** C1b oracle: the identical md5-KM probe family, 62-bit packed
    * bit_or build, and k-probe AND test in DuckDB. */
  def bloomDedupServeSql(): String = {
    val m = BloomWords * 62L
    s"""WITH base AS (
       |  SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS norm
       |  FROM documents),
       |batch AS (
       |  SELECT doc_id + $BigOffset AS doc_id, norm FROM base
       |  UNION ALL
       |  SELECT doc_id + ${2 * BigOffset},
       |         'novel doc ' || CAST(doc_id + ${2 * BigOffset} AS VARCHAR)
       |  FROM base),
       |bprobe AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, $BloomK),
       |           i -> (CAST(('0x' || substr(md5(norm), 1, 14)) AS BIGINT)
       |                 + i * CAST(('0x' || substr(md5(norm), 15, 14)) AS BIGINT)) % $m)) AS pos
       |  FROM base),
       |filt AS (
       |  SELECT pos // 62 AS word, bit_or(1::BIGINT << CAST(pos % 62 AS INT)) AS bits
       |  FROM bprobe GROUP BY 1),
       |qprobe AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, $BloomK),
       |           i -> (CAST(('0x' || substr(md5(norm), 1, 14)) AS BIGINT)
       |                 + i * CAST(('0x' || substr(md5(norm), 15, 14)) AS BIGINT)) % $m)) AS pos
       |  FROM batch),
       |hits AS (
       |  SELECT q.doc_id,
       |         CAST(SUM(CASE WHEN f.bits IS NOT NULL
       |                        AND (f.bits & (1::BIGINT << CAST(q.pos % 62 AS INT))) <> 0
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
       |  FROM qprobe q LEFT JOIN filt f ON f.word = q.pos // 62
       |  GROUP BY 1)
       |SELECT doc_id, n_hits, n_hits = $BloomK AS maybe_dup
       |FROM hits""".stripMargin
  }

  /** C24c's corpus: normalized documents where every 5th doc gains a
    * SELF-repeat (its first 60 chars re-appended) — the planted
    * within-doc boilerplate the within-doc strip must excise, mirrored
    * in [[selfrepCorpusCte]]. */
  private[graft] def selfrepCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", lower(trim(regexp_replace($"text", "\\s+", " "))).as("n0"))
      .select($"doc_id",
        when($"doc_id" % 5 === 0,
          concat($"n0", lit(" "), expr("substring(n0, 1, 60)")))
          .otherwise($"n0").as("norm")))
  }

  private def selfrepCorpusCte: String =
    s"""corpus AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 5 = 0 THEN n0 || ' ' || substr(n0, 1, 60)
       |              ELSE n0 END AS norm
       |  FROM (SELECT doc_id, lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS n0
       |        FROM documents))""".stripMargin

  /** C24c `selfrep_strip` — WITHIN-doc repetition excision, the
    * cleaner behind Gopher's repetition flags (C9b/F2 measure
    * repetition; this removes it): every anchored k-char window whose
    * hash re-occurs LATER in the SAME document marks its later
    * occurrences' intervals (the FIRST occurrence always survives —
    * repeated boilerplate inside a page keeps one copy), intervals
    * merge per doc and the doc reassembles from the complement —
    * [[substringStripOf]]'s machinery with the strike set switched
    * from cross-doc shared windows to within-doc re-occurrences.
    * Smaller k (32) and denser anchors (1/4) than C24b: within-page
    * boilerplate is shorter than cross-crawl duplication.
    *
    * Hash-gated whole (cleaned strings included); spec pins
    * byte-identity for repeat-free docs, exact excision of the
    * planted self-repeat, first-occurrence survival and idempotence.
    * Scale: the strike set is a per-(doc, h) min-pos aggregate — one
    * hash agg + one self-equi-join keyed by (doc_id, h), narrower
    * than C24b's corpus-wide shared-hash set; merge + reassembly are
    * the shared per-doc-keyed passes. */
  def selfrepStrip(spark: SparkSession, dir: String, k: Int = 32,
                   anchorMod: Int = 4): DataFrame =
    selfrepStripOf(selfrepCorpus(spark, dir), k, anchorMod)

  /** Frame-based core of C24c (docs = (doc_id, norm)). */
  private[graft] def selfrepStripOf(docsIn: DataFrame, k: Int,
                                    anchorMod: Int): DataFrame = {
    import docsIn.sparkSession.implicits._
    val docs = docsIn.localCheckpoint()
    val wins = positionedWindows(docs, k, anchorMod)
    val firsts = wins.groupBy($"doc_id", $"h").agg(min($"pos").as("p0"))
    // strike every LATER occurrence of a repeated window
    val iv = wins.join(firsts, Seq("doc_id", "h"))
      .filter($"pos" > $"p0")
      .select($"doc_id", $"pos").distinct()
      .withColumn("e0", $"pos" + lit(k - 1))
    exciseIntervals(docs, iv)
  }

  /** C24c oracle: the planted self-repeat corpus, within-doc
    * first-occurrence strike set, shared excision tail. */
  def selfrepStripSql(k: Int = 32, anchorMod: Int = 4): String =
    s"WITH $selfrepCorpusCte,\n" +
    s"""${positionedWindowsCte(k, anchorMod)},
       |firsts AS (SELECT doc_id, h, MIN(pos) AS p0 FROM wf GROUP BY 1, 2),
       |ivl AS (
       |  SELECT DISTINCT wf.doc_id, wf.pos, wf.pos + $k - 1 AS e0
       |  FROM wf JOIN firsts ON firsts.doc_id = wf.doc_id AND firsts.h = wf.h
       |  WHERE wf.pos > firsts.p0),
       |$exciseSqlTail""".stripMargin

  def substringDedupSql(k: Int = 64, anchorMod: Int = 8): String =
    s"WITH ${substringWindowsCte(k, anchorMod)},\n" +
    s"""pd AS (SELECT doc_id, h, COUNT(*) AS m FROM w GROUP BY 1, 2),
       |sh AS (SELECT h FROM pd GROUP BY h HAVING COUNT(*) >= 2),
       |nw AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_win FROM pd GROUP BY 1),
       |nd AS (SELECT pd.doc_id, CAST(SUM(pd.m) AS BIGINT) AS n_dup
       |       FROM pd JOIN sh USING (h) GROUP BY 1)
       |SELECT nw.doc_id, nw.n_win,
       |       CAST(COALESCE(nd.n_dup, 0) AS BIGINT) AS n_dup,
       |       CAST((100 * COALESCE(nd.n_dup, 0)) // nw.n_win AS BIGINT) AS dup_pct
       |FROM nw LEFT JOIN nd ON nd.doc_id = nw.doc_id""".stripMargin

  def docFingerprintSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + $BigOffset, text FROM documents),
       |g AS (
       |  SELECT doc_id, list_transform(range(1, length(text) - 6),
       |           i -> CAST(('0x' || substr(md5(substr(text, i, 8)), 1, 8)) AS BIGINT)) AS grams
       |  FROM corpus WHERE length(text) >= 11),
       |f AS (
       |  SELECT doc_id, list_distinct(list_transform(range(0, len(grams) - 3),
       |           w -> list_min(grams[w+1:w+4]))) AS fps
       |  FROM g),
       |sel AS (SELECT doc_id, len(fps) AS n, unnest(fps) AS fp FROM f)
       |SELECT doc_id, CAST(MIN(n) AS INT) AS n_fingerprints, bit_xor(fp) AS fp_xor
       |FROM sel GROUP BY doc_id""".stripMargin
}
