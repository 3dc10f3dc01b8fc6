package graft.operators

import graft.{Artifacts, Tables}
import graft.sources.IndexLayout
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

/** Similarity search over the `embeddings` table (SURVEY.md §2 C5-C7):
  * cosine near-dup pairs, brute-force ANN (the correctness baseline),
  * and LSH-bucketed ANN (the scale path).
  *
  * Vector math is pure higher-order functions (`zip_with` +
  * `aggregate`) over `array<float>` — no UDF, no driver collect. Norms
  * are computed once per row before any join so the pair stage only
  * multiplies and divides.
  */
object Similarity {
  import graft.functions.VectorExpressions.{dotF, hyperplane, rotateF}

  /** Codegen'd sequential-fold dot product (double accumulation) —
    * see [[graft.functions.VectorExpressions.DotProductFloat]]. */
  private def dot(a: String, b: String): Column = dotF(col(a), col(b))

  private def l2norm(a: String): Column = sqrt(dotF(col(a), col(a)))

  private def withNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.fanout(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("embedding"), l2norm("embedding").as("norm"))

  /** Exact all-pairs cosine scoring via BLOCK-PARTITIONED self-join —
    * the distributed shape of an exact similarity join. Vectors hash
    * into `blocks` blocks; every unordered block pair (i ≤ j) becomes
    * one join key, the left side replicates each vector to keys
    * (blk, j≥blk) and the right side to (i≤blk, blk), so each unordered
    * vector pair meets EXACTLY once (off-diagonal keys exist in one
    * orientation; the diagonal is halved by the id filter).
    *
    * Why not crossJoin: Spark plans a cross join as
    * BroadcastNestedLoopJoin / CartesianProduct — one side must fit in
    * memory or every partition pair re-streams. Here the shuffle is
    * n·O(blocks) replicated rows on a composite key whose B(B+1)/2
    * groups are uniformly sized, each task compares one block pair in
    * memory, and the comparison loop is the codegen'd float kernel.
    * The O(n²) comparisons are inherent to EXACT thresholding of dense
    * vectors (measured on this data: qualifying pairs at τ≈0.4 are the
    * tail of the random-cosine distribution, cosines 0.40-0.60, no
    * cluster structure — no LSH family reaches recall 1.0 there); at
    * 100 TB you pick blocks ≈ √(2·parallelism) and the replication
    * factor stays √(2P), the textbook all-pairs layout. For realistic
    * dedup thresholds (≥0.8) use [[embeddingDedupLsh]] — sub-quadratic
    * candidates with the identical verify stage. */
  private[graft] def blockedAllPairs(e: DataFrame, blocks: Int): DataFrame = {
    import e.sparkSession.implicits._
    val withBlk = e.withColumn("blk", pmod(xxhash64($"vec_id"), lit(blocks)).cast("int"))
    val l = withBlk.select($"vec_id".as("idL"), $"embedding".as("vL"), $"norm".as("nL"),
      $"blk".as("bi"), explode(sequence($"blk", lit(blocks - 1))).as("bj"))
    val r = withBlk.select($"vec_id".as("idR"), $"embedding".as("vR"), $"norm".as("nR"),
      explode(sequence(lit(0), $"blk")).as("bi"), $"blk".as("bj"))
    l.join(r, Seq("bi", "bj"))
      .filter($"bi" < $"bj" || $"idL" < $"idR")
      .select(least($"idL", $"idR").as("id1"), greatest($"idL", $"idR").as("id2"),
        (dot("vL", "vR") / ($"nL" * $"nR")).as("cosine"))
  }

  /** C5 `embedding_dedup` — embedding-cosine near-dup pairs ≥ threshold.
    * Exact all-pairs via [[blockedAllPairs]] (no cartesian / broadcast
    * nested loop anywhere in the plan). Output is pair ids only: the
    * threshold (0.4002) sits in an empirically verified empty gap of
    * the cosine distribution, so float noise between engines cannot
    * flip membership. */
  def embeddingDedup(spark: SparkSession, dir: String, threshold: Double = 0.4002,
                     blocks: Int = 16): DataFrame = {
    import spark.implicits._
    blockedAllPairs(withNorm(spark, dir), blocks)
      .filter($"cosine" >= threshold)
      .select($"id1", $"id2")
  }

  def embeddingDedupSql(threshold: Double = 0.4002): String =
    s"""SELECT a.vec_id AS id1, b.vec_id AS id2
       |FROM embeddings a, embeddings b
       |WHERE a.vec_id < b.vec_id
       |  AND list_cosine_similarity(a.embedding, b.embedding) >= $threshold""".stripMargin

  /** Planted near-dup embedding corpus: embeddings ∪ a perturbed
    * re-ingest (vec_id + 1e6, every element nudged by a deterministic
    * δ ∈ ±0.003 derived from (vec_id, slot)). Twin cosine ≈ 0.9999;
    * the max non-twin cosine on this data is ≈0.60 — so any threshold
    * in (0.61, 0.999) separates perfectly, with margins far beyond
    * engine float noise. The oracle SQL rebuilds the identical corpus. */
  private[graft] def twinCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val twins = base.select(($"vec_id" + NearDup.BigOffset).as("vec_id"),
      expr(
        """transform(embedding, (x, i) ->
          |  cast(cast(x as double)
          |       + (cast((vec_id * 31 + i) % 7 as double) - 3.0d) * 0.001d as float))"""
        .stripMargin).as("embedding"))
    Tables.fanout(base.unionAll(twins))
      .select($"vec_id", $"embedding", sqrt(dotF($"embedding", $"embedding")).as("norm"))
  }

  /** C5b `embedding_dedup_lsh` — SUB-QUADRATIC embedding near-dup:
    * sign-LSH candidate generation + exact cosine verify, gated against
    * the same exact-threshold-join oracle. This is the 100 TB path for
    * embedding dedup at realistic thresholds.
    *
    * Candidates: 64 sign bits per vector (deterministic hyperplanes, 64
    * codegen'd dot products), split into 4 bands of 16 bits. The build
    * side posts each band value; the probe side posts each band value
    * plus its 16 single-bit flips (multiprobe LSH, Lv et al. 2007). An
    * exact-match join on (band, value) therefore reaches every pair
    * whose signatures agree within 1 bit on SOME band — by pigeonhole,
    * every pair with signature hamming ≤ 7 of 64. Twin pairs at cosine
    * ≥ 0.999 flip each sign bit with prob θ/π ≈ 0.005, so
    * P(hamming ≥ 8) < 1e-8 per pair — recall 1.0 in practice, which the
    * gate (exact oracle) and the spec (pair-set equality with the exact
    * blocked join) both enforce. Shuffle: 4+68 posting rows per vector
    * of (id, band, value) — ids only, vectors never ride the candidate
    * join; random collisions ≈ n²·17/2¹⁶ per band, tunable by band
    * width. Verify: distinct candidate ids join the corpus twice
    * (hash joins on vec_id) and the exact codegen'd cosine decides —
    * so the output is threshold-EXACT, identical to the brute-force
    * join whenever recall holds, and safe (never a false positive)
    * regardless. */
  def embeddingDedupLsh(spark: SparkSession, dir: String,
                        threshold: Double = 0.8): DataFrame = {
    import spark.implicits._
    val dims = 64
    val nPlanes = 64
    val bandBits = 16
    val nBands = nPlanes / bandBits
    // persist: the corpus feeds signature compute + both verify joins
    // (caching contract: caller/gate releases via clearCache()).
    val e = twinCorpus(spark, dir).persist()
    def bandVal(b: Int): Column =
      (b * bandBits until (b + 1) * bandBits).map { p =>
        when(dotF($"embedding", typedLit(hyperplane(p, dims))) > 0d,
          lit(1L << (p - b * bandBits))).otherwise(lit(0L))
      }.reduce(_ + _)
    // eager: the signature table (64 dot products per vector) feeds the
    // build AND probe posting branches, which launch concurrently — a
    // lazy plan computes it twice. Materializing it also fills e's
    // cache before the verify joins read it. ids+4 longs per row only.
    val sig = e.select($"vec_id" +: (0 until nBands).map(b => bandVal(b).as(s"b$b")): _*)
      .localCheckpoint()
    val build = sig.select($"vec_id",
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
      .select($"vec_id".as("id2"), $"pos".as("band"), $"col".as("bval"))
    val probe = sig.select($"vec_id",
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
      .select($"vec_id".as("id1"), $"pos".as("band"),
        explode(expr(s"transform(sequence(-1, ${bandBits - 1})," +
          " j -> if(j < 0, col, col ^ shiftleft(1L, j)))")).as("bval"))
    val cands = probe.join(build, Seq("band", "bval"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2").distinct()
    val a = e.select($"vec_id".as("id1"), $"embedding".as("va"), $"norm".as("na"))
    val b = e.select($"vec_id".as("id2"), $"embedding".as("vb"), $"norm".as("nb"))
    cands.join(a, Seq("id1")).join(b, Seq("id2"))
      .filter(dot("va", "vb") / ($"na" * $"nb") >= threshold)
      .select($"id1", $"id2")
  }

  /** Oracle: exact threshold join over the identically perturbed corpus
    * (the twin elements round through FLOAT exactly as Spark's
    * cast(double as float) does; the 0.2 cosine margin makes any
    * engine-level float drift irrelevant). */
  def embeddingDedupLshSql(threshold: Double = 0.8): String =
    s"""WITH twin AS (
       |  SELECT e.vec_id + ${NearDup.BigOffset} AS vec_id,
       |         list(CAST(CAST(e.embedding[t.i] AS DOUBLE)
       |                   + (CAST((e.vec_id * 31 + (t.i - 1)) % 7 AS DOUBLE) - 3.0) * 0.001
       |              AS FLOAT) ORDER BY t.i) AS embedding
       |  FROM embeddings e, unnest(generate_series(1, len(e.embedding))) AS t(i)
       |  GROUP BY e.vec_id),
       |corpus AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM twin)
       |SELECT a.vec_id AS id1, b.vec_id AS id2
       |FROM corpus a, corpus b
       |WHERE a.vec_id < b.vec_id
       |  AND list_cosine_similarity(a.embedding, b.embedding) >= $threshold""".stripMargin

  /** C31 `semdedup` — SemDeDup (Abbas/Tirumala/Simig/Ganguli/Morcos,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication", arXiv 2303.09540): embedding-space near-dup
    * PRUNING at corpus scale by clustering FIRST and comparing only
    * within clusters — Σ_c n_c² work instead of n², embarrassingly
    * parallel per cell; the 100 TB path C5's exact all-pairs join
    * cannot take (the paper runs k = 50k clusters over LAION-440M;
    * production nlist scales with the corpus so cells stay bounded).
    * Reuses the ANN family's clusterer ([[ivfIndexFrom]] — seeded +
    * one Lloyd step, the same centroid machinery every IVF entry
    * probes) over [[twinCorpus]] (the planted re-ingest C5b grades
    * against — a base corpus plus its perturbed re-crawl at cosine
    * ≈ 0.9999). Members pair within their cell only (self-join on
    * cell, id1 < id2, exact codegen'd cosine ≥ eps) — SKEW-CAPPED:
    * a cell above `cellCap` members first splits by hyperplane sign
    * bits, and any subcell geometry can't split (a near-identical
    * boilerplate cluster) pairs anchor-star instead of all-pairs, so
    * candidate count is bounded by cellCap·n, never Σ n_c²
    * ([[semDedupTag]]/[[semDedupEdges]]; production sizing keeps
    * nlist ∝ n so cells stay near cellCap in the first place, SURVEY
    * §5). Dup groups close transitively per cell
    * ([[NearDup.starContract]]), and each group keeps the member
    * FARTHEST from its centroid (the paper's keeper rule — low centroid
    * similarity = most marginal signal; ties to the lowest id) and
    * drops the rest.
    *
    * Output: one row per DROPPED vector — (drop_id, witness_id,
    * cosine, keeper_id, cell) with witness = the drop's
    * highest-cosine within-cell partner, the evidence an auditor
    * recomputes. Rows-only (centroid geometry decides the cells);
    * check.py grades (a) ZERO false drops — every (drop, witness)
    * cosine recomputed exactly in DuckDB ≥ eps — and (b) planted-twin
    * recall ≥ 0.9: each twin pair must lose exactly one endpoint
    * (loss = twins split across cells, the paper's documented
    * approximation); the spec pins the keeper rule, one survivor per
    * group, and keeper ∉ drops. */
  /** [[semDedup]]'s clustered membership — (cell, vec_id, vc, nc,
    * c2c) with c2c = cosine to the member's own centroid, the keeper
    * score. Exposed (and memoized) separately so the spec can pin the
    * keeper rule against the same clustering the operator used. */
  private[graft] def semDedupMembers(spark: SparkSession, dir: String,
                                     nlist: Int = 16): DataFrame =
    Artifacts.value(spark, Artifacts.SemDedupMembers, dir, nlist) {
      import spark.implicits._
      semDedupMembersFrom(
        twinCorpus(spark, dir).select($"vec_id", $"embedding", lit(0).as("label")),
        nlist)
    }

  /** [[semDedupMembers]]'s core over an explicit corpus frame — the
    * seam the planted-hot-cell spec drives with a skewed corpus. */
  private[graft] def semDedupMembersFrom(corpus: DataFrame, nlist: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (centroids, lists) = ivfIndexFrom(corpus, nlist)
    lists
      .join(broadcast(centroids.select($"cid".as("cell"), $"cvec", $"cnorm")),
        Seq("cell"))
      .select($"cell", $"neighbor_id".as("vec_id"), $"vc", $"nc",
        (dot("vc", "cvec") / ($"nc" * $"cnorm")).as("c2c"))
      .localCheckpoint()
  }

  /** Split-signature width for oversized cells: up to 2¹² subcells per
    * cell, i.e. the cap holds for any cell up to 4096 × cellCap members
    * that hyperplanes can balance; beyond that (or when geometry can't
    * split — see [[semDedup]]) the anchor-star fallback bounds it. */
  private[graft] val SemDedupMaxSplitBits = 12

  /** The pair pass's SKEW GUARD: members of cells above `cellCap` gain
    * a secondary pair key (`sub`) by RECURSIVE GEOMETRIC splitting —
    * each member computes [[SemDedupMaxSplitBits]] deterministic
    * random-hyperplane sign bits
    * ([[graft.functions.VectorExpressions.hyperplane]], the C5b/C7
    * family) and takes the SHORTEST low-bit prefix whose (cell, prefix)
    * group fits the cap: the sign-bit trie splits every branch only as
    * deep as its own population demands (the SemDeDup paper's
    * recursive-re-cluster posture), so unbalanced splits escalate
    * instead of silently leaving an oversized subcell. Near-duplicates
    * (cosine ≈ 1) agree on every sign bit and therefore share a leaf at
    * ANY depth — an id-hash split would scatter them and destroy
    * recall. A leaf still above the cap at full depth is a
    * near-identical cluster geometry cannot split (all members on the
    * same side of every plane); [[semDedupEdges]] pairs it anchor-star.
    * Cells within the cap keep sub = 0 and zero extra dot products.
    * Output adds (n_c, sub, n_s) to the membership columns; the spec
    * asserts subcell sizes and candidate counts against the SAME frame
    * the operator joins. */
  private[graft] def semDedupTag(mem: DataFrame, cellCap: Int): DataFrame = {
    val spark = mem.sparkSession
    import spark.implicits._
    require(cellCap > 0, s"semdedup cellCap must be positive: $cellCap")
    if (mem.isEmpty)
      return mem.withColumn("n_c", lit(0L))
        .withColumn("sub", lit(0)).withColumn("n_s", lit(0L))
    val maxBits = SemDedupMaxSplitBits
    val sizes = mem.groupBy($"cell").agg(count(lit(1)).as("n_c"))
      .localCheckpoint()
    // FAST PATH — no cell over the cap (every well-sized deployment,
    // and the whole gate corpus): the subcell key is the cell itself,
    // so skip the signature/trie machinery AND the mem-sized
    // re-materialization it needs; the r13 plan shape survives with
    // one nlist-row aggregate added
    if (sizes.agg(max($"n_c")).head().getLong(0) <= cellCap)
      return mem.join(broadcast(sizes), Seq("cell"))
        .withColumn("sub", lit(0)).withColumn("n_s", $"n_c")
    val dims = mem.select(size($"vc")).head().getInt(0)
    val sized = mem.join(broadcast(sizes), Seq("cell"))
    val small = sized.filter($"n_c" <= cellCap).withColumn("sub", lit(0))
    // oversized cells: signature once, then the per-branch trie depth —
    // prefix populations for every level in one aggregate (13 rows per
    // member, ids+ints only — vectors never ride the shuffle), and each
    // member keys by its shallowest cap-fitting prefix
    val sig = (0 until maxBits).map(p =>
      when(dotF($"vc", typedLit(hyperplane(256 + p, dims))) > 0d, lit(1 << p))
        .otherwise(lit(0))).reduce(_ + _)
    val bigSig = sized.filter($"n_c" > cellCap).withColumn("sig", sig)
      .localCheckpoint()
    val levels = bigSig.select($"cell", $"vec_id", $"sig")
      .select($"cell", $"vec_id", $"sig",
        explode(expr(s"sequence(0, $maxBits)")).as("l"))
      .withColumn("pfx", $"sig".bitwiseAND(expr("shiftleft(1, l) - 1")))
    val pfxCounts = levels.groupBy($"cell", $"l", $"pfx")
      .agg(count(lit(1)).as("cnt"))
    val leaf = levels.join(pfxCounts, Seq("cell", "l", "pfx"))
      .groupBy($"cell", $"vec_id")
      .agg(min(when($"cnt" <= cellCap, $"l")).as("lFit"), first($"sig").as("sig"))
      .withColumn("l", coalesce($"lFit", lit(maxBits)))
      .select($"cell", $"vec_id",
        ($"l" * 65536 + $"sig".bitwiseAND(expr("shiftleft(1, l) - 1")))
          .cast("int").as("sub"))
    val big = bigSig.drop("sig").join(leaf, Seq("cell", "vec_id"))
    val tagged = small.unionByName(big)
    val subSizes = tagged.groupBy($"cell", $"sub").agg(count(lit(1)).as("n_s"))
    tagged.join(broadcast(subSizes), Seq("cell", "sub")).localCheckpoint()
  }

  /** EXACT candidate-pair count of the capped pair pass over a
    * [[semDedupTag]] frame — Σ_small n(n−1)/2 + Σ_big (n−1), the
    * quantity the hot-cell spec bounds against the uncapped Σ n_c². */
  private[graft] def semDedupCandidateCount(t: DataFrame, cellCap: Int): Long = {
    import t.sparkSession.implicits._
    val r = t.groupBy($"cell", $"sub").agg(count(lit(1)).as("n"))
      .agg(sum(when($"n" <= cellCap, expr("n * (n - 1) div 2"))
        .otherwise($"n" - 1))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The capped within-cell pair pass: all-pairs inside every
    * (cell, sub) group that fits the cap; groups STILL above the cap —
    * near-identical clusters geometry cannot split, the boilerplate
    * shape — pair ANCHOR-STAR against the group's min-id member
    * (O(n_s) candidates; in a tight cluster every member is ≥ eps to
    * the anchor, so the dup component still closes through it). Both
    * guards can only LOSE pairs, never invent them (every emitted edge
    * carries an exact recomputable cosine ≥ eps) — the same loss class
    * as cell splits, graded by twin recall. */
  private def semDedupEdges(t: DataFrame, eps: Double, cellCap: Int): DataFrame = {
    val spark = t.sparkSession
    import spark.implicits._
    val small = t.filter($"n_s" <= cellCap)
    val allPairs = small
      .select($"cell", $"sub", $"vec_id".as("id1"), $"vc".as("v1"), $"nc".as("n1"))
      .join(small.select($"cell", $"sub", $"vec_id".as("id2"),
        $"vc".as("v2"), $"nc".as("n2")), Seq("cell", "sub"))
      .filter($"id1" < $"id2")
    val big = t.filter($"n_s" > cellCap)
    val anchorVecs = big.groupBy($"cell", $"sub").agg(min($"vec_id").as("id1"))
      .join(t.select($"cell", $"sub", $"vec_id".as("id1"),
        $"vc".as("v1"), $"nc".as("n1")), Seq("cell", "sub", "id1"))
    val star = big
      .select($"cell", $"sub", $"vec_id".as("id2"), $"vc".as("v2"), $"nc".as("n2"))
      .join(broadcast(anchorVecs), Seq("cell", "sub"))
      .filter($"id1" < $"id2")
      .select($"cell", $"sub", $"id1", $"v1", $"n1", $"id2", $"v2", $"n2")
    allPairs.unionByName(star)
      .withColumn("cosine", dot("v1", "v2") / ($"n1" * $"n2"))
      .filter($"cosine" >= eps)
      .select($"cell", $"id1", $"id2", $"cosine")
      .localCheckpoint()
  }

  def semDedup(spark: SparkSession, dir: String, eps: Double = 0.8,
               nlist: Int = 16, cellCap: Int = 2000): DataFrame =
    Artifacts.value(spark, Artifacts.SemDedup, dir, eps, nlist, cellCap) {
      val mem = semDedupMembers(spark, dir, nlist)
      semDedupDrops(spark, mem, semDedupEdgesFor(spark, dir, eps, nlist, cellCap),
        centroidKeeper(mem))
    }

  /** The memoized capped pair pass per (dir, params) — shared by C31
    * and C31c so the keeper variants never rebuild the edges. */
  private[graft] def semDedupEdgesFor(spark: SparkSession, dir: String,
                                      eps: Double, nlist: Int,
                                      cellCap: Int): DataFrame =
    Artifacts.value(spark, Artifacts.SemDedupEdges, dir, eps, nlist, cellCap) {
      semDedupEdges(
        semDedupTag(semDedupMembers(spark, dir, nlist), cellCap), eps, cellCap)
    }

  /** [[semDedup]]'s core over an explicit membership frame. */
  private[graft] def semDedupFrom(spark: SparkSession, mem: DataFrame,
                                  eps: Double, cellCap: Int): DataFrame =
    semDedupDrops(spark, mem,
      semDedupEdges(semDedupTag(mem, cellCap), eps, cellCap),
      centroidKeeper(mem))

  /** The paper's keeper rule: the member FARTHEST from its centroid
    * (min c2c — most marginal signal), ties to the lowest id. */
  private def centroidKeeper(mem: DataFrame)(comp: DataFrame): DataFrame = {
    import mem.sparkSession.implicits._
    comp.join(mem.select($"vec_id", $"c2c"), Seq("vec_id"))
      .groupBy($"cluster_id")
      .agg(min_by($"vec_id", struct($"c2c", $"vec_id")).as("keeper_id"))
  }

  /** Close the dup groups over the pair edges, pick one keeper per
    * group by `keeperOf` ((vec_id, cluster_id) → (cluster_id,
    * keeper_id)), and emit one evidence row per DROPPED member. */
  private def semDedupDrops(spark: SparkSession, mem: DataFrame,
                            edges: DataFrame,
                            keeperOf: DataFrame => DataFrame): DataFrame = {
      import spark.implicits._
      val comp = NearDup.starContract(edges.select($"id1", $"id2"))
        .select($"doc_id".as("vec_id"), $"cluster_id")
      val keepers = keeperOf(comp)
      // per dropped member: its strongest within-cell partner as the
      // recomputable evidence
      val wit = edges.select(explode(array(
          struct($"id1".as("vec_id"), $"id2".as("other"), $"cosine"),
          struct($"id2".as("vec_id"), $"id1".as("other"), $"cosine"))).as("e"))
        .select($"e.vec_id", $"e.other", $"e.cosine")
        .groupBy($"vec_id")
        .agg(max_by(struct($"other", $"cosine"),
          struct($"cosine", -$"other")).as("w"))
        .select($"vec_id", $"w.other".as("witness_id"), $"w.cosine".as("cosine"))
      comp.join(keepers, Seq("cluster_id"))
        .filter($"vec_id" =!= $"keeper_id")
        .join(wit, Seq("vec_id"))
        .join(mem.select($"vec_id", $"cell"), Seq("vec_id"))
        .select($"vec_id".as("drop_id"), $"witness_id", $"cosine",
          $"keeper_id", $"cell")
        .localCheckpoint()
    }

  /** C31c `semdedup_keep_best` — [[semDedup]] with the keeper a
    * curation pipeline actually turns: within each dup group keep the
    * member with the HIGHEST explicit quality (ties → lowest id)
    * instead of the paper's farthest-from-centroid default. Reuses the
    * memoized C31 membership AND the memoized capped pair pass — only
    * the keeper argmax differs, in [[NearDup.dedupKeepBest]]'s two-
    * hash-agg shape (max quality → min id among ties; never a
    * struct-max SortAggregate). `quality` = (vec_id, quality) rows for
    * every corpus member. Rows-only like C31 and graded by the same
    * zero-false-drop + twin-recall + keeper-not-dropped checks, plus
    * keeper-quality dominance recomputed cross-engine (the gate
    * derives quality from documents.n_chars via doc_id = vec_id mod
    * 1e6, so a twin TIES its original and the tie-break keeps the
    * original). */
  def semDedupKeepBest(spark: SparkSession, dir: String, quality: DataFrame,
                       eps: Double = 0.8, nlist: Int = 16,
                       cellCap: Int = 2000): DataFrame = {
    val mem = semDedupMembers(spark, dir, nlist)
    semDedupDrops(spark, mem,
      semDedupEdgesFor(spark, dir, eps, nlist, cellCap), qualityKeeper(quality))
  }

  /** [[semDedupKeepBest]]'s core over explicit frames — the spec seam
    * for planted groups with planted qualities. */
  private[graft] def semDedupKeepBestFrom(spark: SparkSession, mem: DataFrame,
                                          quality: DataFrame, eps: Double,
                                          cellCap: Int): DataFrame =
    semDedupDrops(spark, mem,
      semDedupEdges(semDedupTag(mem, cellCap), eps, cellCap),
      qualityKeeper(quality))

  private def qualityKeeper(quality: DataFrame)(comp: DataFrame): DataFrame = {
    import quality.sparkSession.implicits._
    // eager: labeled feeds the max agg AND the tie-break probe
    val labeled = comp.join(quality.select($"vec_id", $"quality"), Seq("vec_id"))
      .localCheckpoint()
    val bq = labeled.groupBy($"cluster_id").agg(max($"quality").as("bq"))
    labeled.join(bq, Seq("cluster_id"))
      .filter($"quality" === $"bq")
      .groupBy($"cluster_id").agg(min($"vec_id").as("keeper_id"))
  }

  /** C31d `semdedup_budget` — SemDeDup driven by a PRUNE BUDGET: the
    * paper hand-tunes its one global eps until the kept fraction hits
    * the mixture plan's target; this entry computes the threshold —
    * eps = the ⌊dropFrac · C⌋-th largest cosine over the C capped
    * within-cell pair edges at the floor, i.e. the tightest threshold
    * admitting the strongest dropFrac of duplicate pairs (ties
    * inclusive). The floor (0.8) bounds what the pair pass ever
    * materializes, so a budget can only TIGHTEN it. Drops then follow
    * C31's component-keeper rule at the chosen eps, and every output
    * row CARRIES the eps, so an auditor recomputes both the evidence
    * (each witness cosine ≥ eps, exactly) and the threshold itself
    * (the same quantile over the exact cell-blind pair set — check.py
    * verifies to 1e-3). Rows-only; graded: zero false drops at the
    * reported eps, no twin pair fully lost, keeper ∉ drops, eps within
    * 1e-3 of the DuckDB quantile, achieved drops within [0.7, 1.1]× of
    * dropFrac × the exact floor-pair count. */
  def semDedupBudget(spark: SparkSession, dir: String,
                     dropFrac: Double = 0.5, floor: Double = 0.8,
                     nlist: Int = 16, cellCap: Int = 2000): DataFrame =
    Artifacts.value(spark, Artifacts.SemDedupBudget, dir, dropFrac, floor, nlist, cellCap) {
      import spark.implicits._
      require(dropFrac >= 0.0 && dropFrac <= 1.0,
        s"dropFrac must be in [0, 1]: $dropFrac")
      val mem = semDedupMembers(spark, dir, nlist)
      val edges = semDedupEdgesFor(spark, dir, floor, nlist, cellCap)
      val k = math.floor(dropFrac * edges.count()).toLong
      if (k == 0L)
        Seq.empty[(Long, Long, Double, Long, Int, Double)]
          .toDF("drop_id", "witness_id", "cosine", "keeper_id", "cell", "eps")
      else {
        // the k-th largest cosine with k kept as a LONG: at >2^31
        // floor-pair edges an Int k wraps negative and silently
        // corrupts the quantile. Locate rank k's bucket in a quantized
        // histogram (cosines live in [floor, 1] → ≤ ~2001 1e-4-wide
        // buckets, driver metadata), then select exactly within that
        // one bucket — the k-th largest overall is the (k − above)-th
        // largest inside it, so only the bucket's own edges ever sort.
        val hist = edges
          .select(org.apache.spark.sql.functions.floor($"cosine" * 10000d)
            .cast("long").as("b"))
          .groupBy($"b").agg(count(lit(1)).as("c"))
          .collect().map(r => (r.getLong(0), r.getLong(1)))
          .sortBy(-_._1)
        var cum = 0L; var i = 0
        while (cum + hist(i)._2 < k) { cum += hist(i)._2; i += 1 }
        val (bkt, inRank) = (hist(i)._1, k - cum)
        require(inRank <= Int.MaxValue.toLong,
          s"quantile bucket $bkt holds > Int.MaxValue ties at 1e-4 " +
            "width — widen the histogram before selecting")
        val eps = edges
          .filter(org.apache.spark.sql.functions.floor($"cosine" * 10000d)
            .cast("long") === bkt)
          .select($"cosine").orderBy($"cosine".desc)
          .limit(inRank.toInt).agg(min($"cosine")).head().getDouble(0)
        semDedupDrops(spark, mem,
          edges.filter($"cosine" >= eps).localCheckpoint(),
          centroidKeeper(mem))
          .withColumn("eps", lit(eps))
      }
    }

  /** The C31c gate wiring: quality = the corpus document's n_chars
    * (doc_id = vec_id mod 1e6 — both twin-corpus halves score their
    * source document's length, so re-crawl twins tie and the keeper
    * is the original). */
  def semDedupKeepBestGate(spark: SparkSession, dir: String,
                           cellCap: Int = 2000): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir).select($"vec_id")
      .join(Tables.documents(spark, dir)
        .select($"doc_id".as("vec_id"), $"n_chars".as("quality")), Seq("vec_id"))
    val quality = base.unionByName(base.select(
      ($"vec_id" + NearDup.BigOffset).as("vec_id"), $"quality"))
    semDedupKeepBest(spark, dir, quality, cellCap = cellCap)
  }

  /** The serving half of C31b: score an incoming vector batch against
    * a PERSISTED [[ivfWrite]] index and return the batch members that
    * semantically duplicate an INDEXED vector (keep the indexed copy —
    * incremental-dedup semantics, [[NearDup.dedupServe]]'s posture for
    * embeddings). Each batch vector routes to its `nprobe` nearest
    * cells (broadcast-sized centroids) and scans ONLY those cells'
    * lists — O(batch · nprobe/nlist of the index) read, never the
    * corpus — keeping one exact-cosine witness per drop. */
  def semDedupServe(spark: SparkSession, path: String, batch: DataFrame,
                    eps: Double = 0.8, nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    val centroids = IndexLayout.Ivf.read(spark, path, "centroids")
    val lists = liveLists(spark, path)
      .select($"cell", $"neighbor_id", $"vc".cast("array<float>").as("vc"), $"nc")
    val q = batch
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
      .withColumn("norm", sqrt(dotF($"embedding", $"embedding")))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(ivfRoute(centroids, q, nprobe)).join(lists, Seq("cell"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .filter($"cosine" >= eps)
      .withColumn("rk", row_number().over(w))
      .filter($"rk" === 1)
      .select($"query_id".as("drop_id"), $"neighbor_id".as("witness_id"),
        $"cosine", $"cell")
  }

  /** C31b `semdedup_serve` — [[semDedup]]'s INCREMENTAL form under the
    * gate: the base corpus persists as the standard IVF index, then a
    * re-crawl batch (the perturbed twins, cosine ≈ 0.9999 to their
    * originals) serves against it; every batch member whose original
    * is indexed must strike, each with a recomputable exact-cosine
    * witness. This is the production shape ([[NearDup.crossDedupServe]]
    * / lineDedupServe for embeddings): the 100 TB reference corpus is
    * indexed once, a nightly batch reads only its routed cells.
    * Rows-only (centroid geometry routes); check.py grades zero false
    * drops (witness cosines recomputed exactly in DuckDB ≥ eps) and
    * strike recall ≥ 0.9 (a twin is only missable if routing splits
    * it from its original past nprobe cells); the spec pins clean-
    * batch silence (orthogonal vectors strike nothing) and tombstone
    * erasure (a deleted original stops striking its twin). */
  def semDedupServeGate(spark: SparkSession, dir: String, eps: Double = 0.8,
                        nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    val base = Tables.embeddings(spark, dir)
    if (base.agg(max($"vec_id")).head().isNullAt(0))
      return Seq.empty[(Long, Long, Double, Int)]
        .toDF("drop_id", "witness_id", "cosine", "cell")
    graft.sources.Lake.withScratchIndex(spark, "graft_semdd_srv") { tmp =>
      // share the ivfIndex memo's full-corpus build computation (the
      // prefixIvfWrite precedent); the gate still writes its own copy
      ivfWrite(spark, dir, tmp)
      semDedupServe(spark, tmp,
        twinCorpus(spark, dir).filter($"vec_id" >= NearDup.BigOffset)
          .select($"vec_id", $"embedding"),
        eps, nprobe)
    }
  }

  /** C6 `ann_bruteforce` — exact cosine top-k neighbors for a bounded
    * query set (vec_id < 20). The query side is tiny and explicitly
    * `broadcast()` so the corpus never shuffles: each corpus partition
    * scores its rows against all queries, and the global top-k per
    * query reduces through TakeOrdered-style window pruning. Ranks are
    * tie-broken by neighbor id. Output ids+rank only (float-noise-proof
    * given random-data cosine gaps ≫ engine ulp differences). */
  def annBruteforce(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 20): DataFrame = {
    import spark.implicits._
    val e = withNorm(spark, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("vc"), $"norm".as("nc"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(q).crossJoin(c)
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(w))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"rank_nn")
  }

  def annBruteforceSql(k: Int = 5, nQueries: Int = 20): String =
    s"""SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank_nn
       |FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         row_number() OVER (
       |           PARTITION BY a.vec_id
       |           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rn
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < $nQueries AND a.vec_id <> b.vec_id)
       |WHERE rn <= $k""".stripMargin

  /** C6b `ann_truncated` — Matryoshka-style TRUNCATED retrieval: rank
    * by cosine over only the first `dims` coordinates (the
    * published matryoshka-representation property: a prefix of the
    * embedding is itself a usable lower-dim embedding). At 100 TB
    * this is the cheap candidate pass — the scan reads a `dims/d`
    * fraction of the vector bytes (a prefix slice projects BEFORE
    * the shuffle/score), and C7c's exact-rerank pattern composes on
    * the shortlist. C6's plan shape otherwise: broadcast query
    * panel × corpus, per-query window top-k. The spec grades
    * truncated recall against the full-dimension exact answer. */
  def annTruncated(spark: SparkSession, dir: String, dims: Int = 32,
                   k: Int = 5, nQueries: Int = 20): DataFrame = {
    import spark.implicits._
    val e = Tables.fanout(Tables.embeddings(spark, dir))
      .select($"vec_id", expr(s"slice(embedding, 1, $dims)").as("emb"))
      .withColumn("norm", sqrt(dotF($"emb", $"emb")))
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"emb".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"emb".as("vc"), $"norm".as("nc"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(q).crossJoin(c)
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("cosine", dotF($"vq", $"vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(w))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"rank_nn")
  }

  def annTruncatedSql(dims: Int = 32, k: Int = 5, nQueries: Int = 20): String =
    s"""SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank_nn
       |FROM (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         row_number() OVER (
       |           PARTITION BY a.vec_id
       |           ORDER BY list_cosine_similarity(a.embedding[1:$dims], b.embedding[1:$dims]) DESC, b.vec_id) AS rn
       |  FROM embeddings a, embeddings b
       |  WHERE a.vec_id < $nQueries AND a.vec_id <> b.vec_id)
       |WHERE rn <= $k""".stripMargin

  /** C6c `ann_truncated_rerank` — the two-stage form C6b exists for
    * (C7c's pattern on the MRL axis): the truncated prefix shortlists
    * `shortlist` candidates per query cheaply, then ONLY the
    * shortlist pays the full-dimension exact cosine and the top-k
    * re-ranks from it. At 100 TB the wide scan moves dims/d of the
    * vector bytes and the full vectors are fetched for
    * shortlist/corpus of the rows — the standard funnel. Gate is
    * exact (hash-compare on the reranked top-k). */
  def annTruncatedRerank(spark: SparkSession, dir: String, dims: Int = 32,
                         k: Int = 5, shortlist: Int = 25,
                         nQueries: Int = 20): DataFrame = {
    import spark.implicits._
    val short = annTruncated(spark, dir, dims, shortlist, nQueries)
      .select($"query_id", $"neighbor_id")
    val e = withNorm(spark, dir)
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("vq"), $"norm".as("nq"))
    val c = e.select($"vec_id".as("neighbor_id"), $"embedding".as("vc"), $"norm".as("nc"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    short.join(c, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(w))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"rank_nn")
  }

  def annTruncatedRerankSql(dims: Int = 32, k: Int = 5, shortlist: Int = 25,
                            nQueries: Int = 20): String =
    s"""WITH short AS (${annTruncatedSql(dims, shortlist, nQueries)})
       |SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank_nn FROM (
       |  SELECT s.query_id, s.neighbor_id,
       |         row_number() OVER (PARTITION BY s.query_id
       |           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
       |                    s.neighbor_id) AS rn
       |  FROM short s
       |  JOIN embeddings a ON a.vec_id = s.query_id
       |  JOIN embeddings b ON b.vec_id = s.neighbor_id)
       |WHERE rn <= $k""".stripMargin

  /** Nearest-`n` centroid assignment: vecs × broadcast(cents) scored by
    * cosine. n = 1 plans as a max_by hash-aggregate (no sort, no window
    * shuffle-and-order over corpus × centroids; ties break to the
    * lowest cell id like the window's (csim desc, cid asc)); n > 1
    * takes the per-vector top-n via a window over the bounded
    * corpus × nlist scored set. */
  private def nearestCell(vecs: DataFrame, cents: DataFrame,
                          outPrefix: String, n: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val scored = vecs.crossJoin(broadcast(cents))
      .withColumn("csim", dot("embedding", "cvec") / ($"norm" * $"cnorm"))
    if (n == 1) {
      scored
        .groupBy($"vec_id")
        .agg(max_by(
          struct($"embedding", $"norm", $"cid"),
          struct($"csim", -$"cid")).as("best"))
        .select($"vec_id", $"best.embedding".as("embedding"),
          $"best.norm".as("norm"), $"best.cid".as(s"${outPrefix}cid"),
          lit(1).as(s"${outPrefix}rank"))
    } else {
      val w = Window.partitionBy($"vec_id").orderBy($"csim".desc, $"cid")
      scored
        .withColumn("crank", row_number().over(w))
        .filter($"crank" <= n)
        .select($"vec_id", $"embedding", $"norm", $"cid".as(s"${outPrefix}cid"),
          $"crank".as(s"${outPrefix}rank"))
    }
  }

  /** int8 scalar quantization of the list vectors (the
    * [[embeddingQuantize]] code, riding the index): `q8` is the
    * per-vector-scaled tinyint code, `qn` its L2 norm. Cosine against a
    * code is SCALE-FREE (q8 ∝ the dequantized vector), so the cheap
    * first-pass score needs neither the scale nor the float vector —
    * at 100 TB the code columns are the 4×-smaller projection the wide
    * probe scans; floats are fetched only for the shortlist. */
  private def withQ8(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned
      .withColumn("maxabs", expr("cast(array_max(transform(vc, x -> abs(x))) as double)"))
      .withColumn("q8", expr(
        "transform(vc, x -> cast(floor(cast(x as double)" +
          " * (if(maxabs > 0d, 127.0d / maxabs, 0d)) + 0.5d) as tinyint))"))
      .withColumn("qn", sqrt(dotF(expr("transform(q8, x -> cast(x as float))"),
        expr("transform(q8, x -> cast(x as float))"))))
      .drop("maxabs")
  }

  /** The list-row shape shared by the from-scratch build and
    * [[ivfAppend]]: (cell, neighbor_id, vc, nc, label, q8, qn) — the
    * payload attributes AND the int8 codes ride the index so probes
    * never rejoin the corpus and the cheap pass never touches floats. */
  private def listRows(assigned: DataFrame, labels: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    withQ8(assigned
      .join(labels, Seq("vec_id"))
      .select($"lcid".as("cell"), $"vec_id".as("neighbor_id"),
        $"embedding".as("vc"), $"norm".as("nc"), $"label"))
  }

  /** IVF build core over an explicit (vec_id, embedding, label) frame —
    * deterministic seed centroids (vec_id < nlist) → one Lloyd
    * refinement (assign via max_by hash-agg, per-cell dimension means)
    * → assign every vector to its refined cell. */
  private[graft] def ivfIndexFrom(vecs: DataFrame, nlist: Int): (DataFrame, DataFrame) = {
    import vecs.sparkSession.implicits._
    // eager: e feeds seed selection, the Lloyd assign and the list
    // build — concurrent consumers would each race the unfilled cache
    val e = Tables.fanout(vecs)
      .select($"vec_id", $"embedding", sqrt(dotF($"embedding", $"embedding")).as("norm"))
      .localCheckpoint()
    val seeds = e.filter($"vec_id" < nlist)
      .select($"vec_id".cast("int").as("cid"), $"embedding".as("cvec"), $"norm".as("cnorm"))
    val assigned0 = nearestCell(e, seeds, "a", 1)
    val centroids = assigned0
      .select($"acid".as("cid"), posexplode($"embedding"))
      .groupBy($"cid", $"pos")
      .agg(avg($"col".cast("double")).as("m"))
      .groupBy($"cid")
      .agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cid", expr("transform(pm, x -> cast(x.m as float))").as("cvec"))
      .withColumn("cnorm", sqrt(dotF(col("cvec"), col("cvec"))))
      .localCheckpoint()
    val lists = listRows(nearestCell(e, centroids, "l", 1),
        vecs.select($"vec_id", $"label"))
      .localCheckpoint()
    (centroids, lists)
  }

  /** Memoized IVF index — (refined centroids, inverted lists) per
    * (session, shuffle setting, dir, nlist), built ONCE per process via
    * an [[Artifacts.value]] and read by every consumer (`ann_ivf`,
    * `knn_classify_ivf`, any future probe): the canonical "build the
    * index once, probe many times" artifact. Both frames are
    * materialized eagerly (localCheckpoint — see NearDup's
    * materialization contract); at cluster scale they are written as
    * index TABLES (centroids broadcast-sized, lists partitioned by
    * cell) and this memo becomes a table read. */
  private[graft] def ivfIndex(spark: SparkSession, dir: String,
                              nlist: Int): (DataFrame, DataFrame) =
    Artifacts.value(spark, Artifacts.IvfIndex, dir, nlist) {
      ivfIndexFrom(Tables.embeddings(spark, dir), nlist)
    }

  /** C7b `ann_ivf` — IVF (inverted-file) coarse-quantizer ANN: the
    * [[ivfIndex]] assigns every vector to its nearest of `nlist`
    * centroids; each query scans only its `nprobe` nearest lists.
    * Candidates ∝ probed-list sizes (~nprobe/nlist of the corpus), not
    * n² — the standard billion-vector ANN layout; at cluster scale the
    * inverted lists are the partitioning keys so a probe touches only
    * those partitions. The query side reads the index too (filter on
    * the lists), so a probe run never rescans the raw corpus.
    *
    * Rows-only oracle (centroid geometry is implementation-specific);
    * the spec asserts the IVF invariants: neighbors come only from
    * probed cells and ranks are within k; check.py grades recall@5
    * cross-engine against DuckDB brute force. */
  def annIvf(spark: SparkSession, dir: String, nlist: Int = 16, nprobe: Int = 2,
             k: Int = 5, nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val queries = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    ivfProbe(centroids, lists, nprobe, k, queries)
  }

  /** The probe plan shared by the memo-served [[annIvf]] and the
    * table-served [[annIvfServe]]: route each query (vec_id,
    * embedding, norm) to its `nprobe` nearest centroids
    * ([[ivfRoute]]), scan only those cells' lists, exact-cosine rank
    * within the candidates ([[ivfScore]]). */
  private def ivfProbe(centroids: DataFrame, lists: DataFrame,
                       nprobe: Int, k: Int, queries: DataFrame): DataFrame =
    ivfScore(ivfRoute(centroids, queries, nprobe), lists, k)

  /** Query routing: (cell, query_id, vq, nq) per probed cell — the
    * Spark-side router of the memo-served probes, and the reference
    * [[ivfRouteLocal]] (the persisted-index serves' driver router) is
    * specified against. */
  private[graft] def ivfRoute(centroids: DataFrame, queries: DataFrame,
                       nprobe: Int): DataFrame = {
    import centroids.sparkSession.implicits._
    nearestCell(queries, centroids, "p", nprobe)
      .select($"pcid".as("cell"), $"vec_id".as("query_id"),
        $"embedding".as("vq"), $"norm".as("nq"))
  }

  /** Candidate scoring within the probed cells. `excludeSelf` applies
    * the query_id ≠ neighbor_id filter — correct ONLY when the query
    * ids live in the corpus id namespace (the self-panel modes); an
    * EXTERNAL query batch numbers its own namespace, where excluding
    * the same-numbered corpus vector would silently drop a legitimate
    * (possibly nearest) neighbor. */
  private[graft] def ivfScore(probes: DataFrame, lists: DataFrame, k: Int,
                       excludeSelf: Boolean = true): DataFrame = {
    import probes.sparkSession.implicits._
    // the probe set is O(queries × nprobe) — a serving batch, small by
    // contract — so broadcast it: the lists (the big side) are scanned
    // in place, never shuffled on the 16-ary cell key
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(probes).join(lists.select($"cell", $"neighbor_id", $"vc", $"nc"), Seq("cell"))
      .filter(if (excludeSelf) $"query_id" =!= $"neighbor_id" else lit(true))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(w))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine")
  }

  /** Two-stage probe scoring — the IVF+rerank serving shape:
    *
    *  1. CHEAP PASS: candidates from the probed cells score by cosine
    *     against the int8 CODES only (`q8`/`qn` — scale-free, so no
    *     dequantization; the float vectors are never touched). Per
    *     query the top-`shortlist` by code cosine survive.
    *  2. RERANK: the bounded shortlist (queries × shortlist rows, a
    *     serving batch is small by definition) hash-joins the float
    *     vectors by id and EXACT cosine decides the final top-k.
    *
    * This decouples the two costs single-stage IVF couples: how many
    * cells you must PROBE for recall (wide is fine — the wide scan
    * reads 4×-smaller codes, and under a columnar store only the code
    * columns) from how many FLOAT vectors you must fetch (bounded by
    * shortlist, independent of nprobe). int8 cosine error (≤1e-3,
    * RecallSpec's dequantization bound) only threatens candidates
    * within noise of the shortlist boundary, and shortlist ≫ k makes
    * losing a true top-k that way essentially impossible — recall is
    * governed by cell routing alone. */
  private[graft] def ivfScoreRerank(probes: DataFrame, codes: DataFrame, vectors: DataFrame,
                             shortlist: Int, k: Int,
                             excludeSelf: Boolean = true): DataFrame = {
    import probes.sparkSession.implicits._
    // both probe stages broadcast the query-derived (small-by-contract)
    // side: the code scan and the float fetch read index partitions in
    // place, with no shuffle of either keyed on the 16-ary cell
    val wS = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"neighbor_id")
    val short = broadcast(probes).join(codes, Seq("cell"))
      .filter(if (excludeSelf) $"query_id" =!= $"neighbor_id" else lit(true))
      .withColumn("qcos",
        when($"qn" > 0d,
          dotF($"vq", expr("transform(q8, x -> cast(x as float))")) / ($"nq" * $"qn"))
          .otherwise(lit(-2d)))
      .withColumn("srank", row_number().over(wS))
      .filter($"srank" <= shortlist)
      .select($"query_id", $"neighbor_id", $"cell", $"vq", $"nq")
    val wK = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(short).join(vectors, Seq("neighbor_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wK))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine")
  }

  /** C7c `ann_ivf_rerank` — [[annIvf]] upgraded to the two-stage
    * serving shape ([[ivfScoreRerank]]): probe WIDE (nprobe=10 of 16 —
    * on this clusterless random corpus recall is a pure function of
    * cells probed; real clustered embeddings reach the same recall at
    * far smaller nprobe/nlist), score candidates on int8 codes, exact
    * rerank only the top-`shortlist`. Measured recall@5 ≈ 0.90-0.95
    * vs brute force (single-stage nprobe=2 sits at ~0.55); check.py
    * grades the cross-engine floor at 0.8. Rows-only like its parent
    * (centroid geometry is implementation-specific). */
  def annIvfRerank(spark: SparkSession, dir: String, nlist: Int = 16, nprobe: Int = 10,
                   shortlist: Int = 32, k: Int = 5, nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val queries = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    ivfScoreRerank(ivfRoute(centroids, queries, nprobe),
      lists.select($"cell", $"neighbor_id", $"q8", $"qn"),
      lists.select($"neighbor_id", $"vc", $"nc"), shortlist, k)
  }

  /** C7k `ann_ivf_adaptive` — ADAPTIVE-nprobe serving: each query
    * probes only as many cells as IT needs. A fixed nprobe spends the
    * hardest query's budget on every query — an easy query (whole
    * neighborhood in its nearest cells) wastes the extra probes, a
    * boundary query still misses. The loop doubles each query's probe
    * width (minProbe → 2× → … → nlist) and SETTLES a query the first
    * time a doubling leaves its top-k set UNCHANGED (the
    * stabilized-shortlist termination rule: doubling the candidate
    * pool added no better neighbor, so wider probing is unlikely to);
    * settled queries LEAVE the panel, so each round routes and scans
    * only the still-unsettled queries' cells, and a panel that
    * exhausts the budget at nlist is served exactly. Driver loop is
    * bounded (≤ log₂ nlist rounds — the pagerank/starContract
    * posture; each round one broadcast-probe scan), and the doubling
    * schedule bounds total scanned cells per query at < 2× its final
    * width. On clustered production embeddings most queries settle
    * early (the paper-standard adaptive-termination win); this
    * synthetic corpus is uniform — the worst case — so settling skews
    * late and the measured avg probes is the honest upper end.
    *
    * Output adds `probes_used` (the width that CONFIRMED the result).
    * Rows-only (centroid geometry); check.py grades recall@5 vs brute
    * force at the two-stage floor 0.8; the spec pins settled-query
    * parity with the fixed-width probe, avg probes ≤ nlist, and
    * recall ≥ the fixed-minProbe baseline. */
  def annIvfAdaptive(spark: SparkSession, dir: String, nlist: Int = 16,
                     k: Int = 5, nQueries: Int = 50,
                     minProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val panel = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    adaptiveProbeLoop(panel, nlist, minProbe,
      (q, w) => ivfProbe(centroids, lists, w, k, q))
  }

  /** The stabilized-shortlist termination loop shared by [[annIvfAdaptive]]
    * and [[annIvfPqAdaptive]]: double each remaining query's probe width,
    * SETTLE a query the first time a doubling leaves its top-k id set
    * unchanged, drop settled queries from the panel, serve the rest
    * exactly at nlist. `probe(panel, width)` returns (query_id,
    * neighbor_id, cell, rank_nn, cosine) for exactly the panel's
    * queries; the driver loop is ≤ log₂ nlist rounds of metadata-sized
    * actions. */
  private def adaptiveProbeLoop(queries0: DataFrame, nlist: Int, minProbe: Int,
                                probe: (DataFrame, Int) => DataFrame): DataFrame = {
    val spark = queries0.sparkSession
    import spark.implicits._
    // the panel and the per-round settled sets are SERVING-BATCH-sized
    // (≤ nQueries ids) — driver metadata by contract. Collect the
    // unsettled id set once per round and drive every derived frame
    // (done slice, shrunk panel, prev slice) as an isin FILTER over
    // the round's one checkpoint, instead of three more checkpoint
    // jobs + joins per round (r17 opt: the loop's driver-job count per
    // round drops from ~5 to 2 — guide §2.6's sequential-small-jobs
    // cost, which at a serving fleet's rate is the loop's real price).
    val panel = queries0.localCheckpoint()
    var remaining = panel.select($"vec_id").as[Long].collect()
    var queries = panel
    var p = math.min(minProbe, nlist)
    var prev = probe(queries, p).localCheckpoint()
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (p < nlist && remaining.nonEmpty) {
      val pNext = math.min(p * 2, nlist)
      val cur = probe(queries, pNext).localCheckpoint()
      // unsettled = any symmetric difference in the top-k id set
      val moved = cur.select($"query_id", $"neighbor_id")
        .unionAll(prev.select($"query_id", $"neighbor_id"))
        .groupBy($"query_id", $"neighbor_id").agg(count(lit(1)).as("c"))
        .filter($"c" === 1)
        .select($"query_id").distinct().as[Long].collect()
      done += cur.filter(!$"query_id".isin(moved: _*))
        .withColumn("probes_used", lit(pNext))
      val movedSet = moved.toSet
      remaining = remaining.filter(movedSet)
      queries = panel.filter($"vec_id".isin(remaining.toSeq: _*))
      prev = cur.filter($"query_id".isin(moved: _*))
      p = pNext
    }
    // budget exhausted at nlist: the remaining queries are EXACT
    done += prev.withColumn("probes_used", lit(p))
    done.reduce(_ unionAll _)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine",
        $"probes_used")
  }

  /** Persist the [[ivfIndex]] as on-disk index TABLES at `path` — the
    * serving layout the memo's Scaladoc promises: `centroids/` (one
    * broadcast-sized file) and `lists/` PARTITIONED BY cell, so a
    * probe run reads only its probed cells' directories. Build once,
    * serve any number of probe runs/processes. */
  def ivfWrite(spark: SparkSession, dir: String, path: String,
               nlist: Int = 16): Unit =
    writeIndex(ivfIndex(spark, dir, nlist), path)

  /** [[ivfWrite]] over an explicit (vec_id, embedding, label) frame —
    * the build entry point when the corpus is not a registered table
    * (a snapshot prefix, a filtered corpus, a test fixture). */
  def ivfWriteFrom(vecs: DataFrame, path: String, nlist: Int = 16): Unit =
    writeIndex(ivfIndexFrom(vecs, nlist), path)

  private def writeIndex(idx: (DataFrame, DataFrame), path: String): Unit = {
    val (centroids, lists) = idx
    val spark = lists.sparkSession
    val L = IndexLayout.Ivf
    // a fresh build resets the whole index at this path — including
    // tombstones and the commit log of any previous index
    L.append(spark, path, overwrite = true) { (batchId, mode) =>
      // centroids and lists are independent writes to disjoint dirs
      // (guide §2.6); the commit row still lands strictly after both
      graft.Par.jobs(
        () => centroids.coalesce(1).write.mode(mode).parquet(s"$path/centroids"),
        () => lists.withColumn("batch_id", lit(batchId)).repartition(col("cell"))
          .write.partitionBy("cell").mode(mode).parquet(s"$path/lists"))
    }(L.row(spark, _))
  }

  /** The index's current committed batch set — pass it back into
    * [[annIvfServe]] as `snapshot` to pin a probe session to this
    * exact index state: appends and deletes that commit after the
    * snapshot stay invisible. Snapshots survive appends/deletes
    * (append-only on disk); retrain and compaction REWRITE cells in
    * place, so a session that must outlive a maintenance window takes
    * a read pin ([[graft.sources.Lake.pinSnapshot]]) — both refuse to
    * reclaim while the pin is live, and the pin expires by TTL if the
    * reader crashes. */
  def ivfSnapshot(spark: SparkSession, path: String): Seq[String] =
    IndexLayout.Ivf.committed(spark, path)

  /** The LIVE view of the on-disk lists: committed batches only,
    * tombstoned vectors anti-joined out (tombstones are bounded
    * curation metadata — broadcast), `cell` an int by the declared
    * [[IndexLayout.Ivf]] schema.
    * Every reader — serve, retrain, compact — starts here, so a torn
    * append or a deleted vector can never be probed, averaged into a
    * retrain centroid, or migrated. `snapshot` pins the view to an
    * [[ivfSnapshot]] state. */
  private[graft] def liveLists(spark: SparkSession, path: String,
                               snapshot: Option[Seq[String]] = None): DataFrame = {
    val committed = snapshot.getOrElse(IndexLayout.Ivf.committed(spark, path))
    liveListsAt(spark, path, committed, IndexLayout.Ivf.tombstones(spark, path, committed))
  }

  private def liveListsAt(spark: SparkSession, path: String, committed: Seq[String],
                          dead: Seq[Long]): DataFrame = {
    import spark.implicits._
    IndexLayout.Ivf.read(spark, path, "lists")
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead.toDF("neighbor_id")), Seq("neighbor_id"), "left_anti")
      .drop("batch_id")
  }

  /** DELETE vectors from a persisted index — the embedding side of the
    * forget path ([[graft.operators.TextAnalysis.bm25Delete]]'s
    * posture, [[IndexLayout.Appendable.delete]]): tombstones, commit
    * row last, zero list rewrites (untouched cell partitions stay
    * byte-for-byte). [[liveLists]] filters the victims out of every
    * serve, retrain and compaction read; [[ivfCompact]] reclaims the
    * dead rows physically. Idempotent: already-tombstoned ids are
    * skipped. */
  def ivfDelete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    IndexLayout.Ivf.delete(spark, path, ids.select(col("vec_id").as("neighbor_id")))

  /** Incremental index maintenance — assign a NEW embedding batch to
    * the index's existing (frozen) centroids and APPEND only the
    * touched cell partitions; untouched cell directories are not
    * rewritten, so maintenance cost is O(batch), not O(index). This is
    * the standard IVF append posture: centroids stay fixed between
    * periodic retrains (assignment is nearest-centroid either way, so
    * append ≡ one-shot assign-all under the same centroids —
    * RecallSpec pins that equivalence exactly), and a probe served
    * after the append sees the union corpus with no rebuild. */
  def ivfAppend(spark: SparkSession, path: String, newVecs: DataFrame): Unit =
    ivfAppendRaw(spark, path, newVecs, commit = true)

  /** [[ivfAppend]] with the commit step separable (commit = false is
    * the kill-between-writes state the crash-safety spec drives). */
  private[graft] def ivfAppendRaw(spark: SparkSession, path: String,
                                  newVecs: DataFrame, commit: Boolean): Unit = {
    import spark.implicits._
    val L = IndexLayout.Ivf
    val centroids = L.read(spark, path, "centroids")
    val e = Tables.fanout(newVecs)
      .select($"vec_id", $"embedding", sqrt(dotF($"embedding", $"embedding")).as("norm"))
    // list rows first (invisible until the commit row lands) …
    L.append(spark, path, overwrite = false, commit) { (batchId, mode) =>
      listRows(nearestCell(e, centroids, "l", 1), newVecs.select($"vec_id", $"label"))
        .withColumn("batch_id", lit(batchId))
        .repartition(col("cell"))
        .write.partitionBy("cell").mode(mode).parquet(s"$path/lists")
    // … the commit row LAST: a crash in between leaves orphans no
    // reader serves, and the re-driven append lands the batch once
    }(L.row(spark, _))
  }

  /** Index maintenance step 3 — RETRAIN the centroids [[ivfAppend]]
    * freezes, migrating only the lists that change: one Lloyd step
    * over the CURRENT membership (new centroid = mean of its cell's
    * vectors — appends included, so drift folds in), then every
    * vector reassigns to its nearest new centroid and ONLY cells
    * whose membership changed rewrite (dynamic partition overwrite;
    * a cell drained to zero members has its directory dropped so no
    * stale vector can double-serve). Unchanged cells keep their
    * files byte-for-byte — at 100 TB the rewrite is proportional to
    * membership CHURN, not index size, which is what makes periodic
    * retraining affordable. The reassignment set (changed cell ids)
    * is O(nlist) driver metadata.
    *
    * RecallSpec pins: retrain-then-serve ≡ assign-all from scratch
    * under the retrained centroids, unchanged cells untouched, and
    * the append→retrain→serve chain stays recall-graded end-to-end
    * (`ann_ivf_retrain`). */
  def ivfRetrain(spark: SparkSession, path: String): Unit =
      // retention: retrain rewrites changed cells in place — a live
      // reader pin still references the pre-migration rows
      IndexLayout.maintain(spark, path, "ivfRetrain") {
    import spark.implicits._
    // eager: the current LIVE lists (committed batches, tombstones
    // filtered — a deleted vector must not be averaged into the new
    // centroids or migrated back in) feed the mean step, the reassign
    // AND the rewrite (which replaces the very files being read)
    val lists = liveLists(spark, path)
      .select($"cell", $"neighbor_id",
        $"vc".cast("array<float>").as("vc"), $"nc", $"label")
      .localCheckpoint()
    val newCent = lists.select($"cell".as("cid"), posexplode($"vc"))
      .groupBy($"cid", $"pos").agg(avg($"col".cast("double")).as("m"))
      .groupBy($"cid").agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cid", expr("transform(pm, x -> cast(x.m as float))").as("cvec"))
      .withColumn("cnorm", sqrt(dotF(col("cvec"), col("cvec"))))
      .localCheckpoint()
    val e = lists.select($"neighbor_id".as("vec_id"), $"vc".as("embedding"),
      $"nc".as("norm"), $"cell".as("old_cell"))
    val assigned = nearestCell(e.select($"vec_id", $"embedding", $"norm"), newCent, "l", 1)
      .join(e.select($"vec_id", $"old_cell"), Seq("vec_id"))
      .localCheckpoint()
    val changed = IndexLayout.partitionsOf(assigned.filter($"lcid" =!= $"old_cell")
      .select(explode(array($"lcid".cast("int"), $"old_cell".cast("int"))).as("c"))).toSet
    if (changed.nonEmpty) {
      val rows = listRows(assigned,
          lists.select($"neighbor_id".as("vec_id"), $"label"))
        .filter($"cell".isin(changed.toSeq: _*))
        .localCheckpoint()
      // retrain REPLACES cells in place (rewrite ∝ churn — the whole
      // point), so unlike append its rows cannot stay invisible until
      // a trailing commit: the batch id commits FIRST, making every
      // migrated row live the moment its cell lands. A crash mid-
      // overwrite leaves a routable, committed index (some cells
      // migrated, some not); re-driving ivfRetrain converges it.
      val L = IndexLayout.Ivf
      val retrainBatch = java.util.UUID.randomUUID.toString
      L.commit(path, L.row(spark, retrainBatch))
      rows.withColumn("batch_id", lit(retrainBatch))
        .repartition(col("cell"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$path/lists")
      // a changed cell with ZERO members after migration writes no
      // partition — drop its stale directory, or the drained cell's
      // stale vectors would double-serve after retrain
      L.drop(spark, path, changed -- IndexLayout.partitionsOf(rows.select($"cell".cast("int"))))
    }
    newCent.coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Mean centroid DRIFT of a persisted IVF index — the vector side's
    * staleness measure, closing the loop the way ε closes BM25's
    * ([[graft.operators.TextAnalysis.bm25RefreshIfStale]]): per
    * non-empty cell, 1 − cos(stored centroid, current member mean),
    * averaged over cells. Appends assign to FROZEN centroids, so a
    * drifting corpus pulls each cell's true mean away from the
    * centroid that routes its probes — recall decays silently. This
    * measures that decay from index metadata: one pass over the live
    * lists (posting payloads pruned to the vectors), centroids
    * broadcast-sized. Empty index → 0. */
  def ivfDriftMeasure(spark: SparkSession, path: String): Double = {
    import spark.implicits._
    val means = liveLists(spark, path)
      .select($"cell".as("cid"), $"vc".cast("array<float>").as("vc"))
      .select($"cid", posexplode($"vc"))
      .groupBy($"cid", $"pos").agg(avg($"col".cast("double")).as("m"))
      .groupBy($"cid").agg(array_sort(collect_list(struct($"pos", $"m"))).as("pm"))
      .select($"cid", expr("transform(pm, x -> cast(x.m as float))").as("mvec"))
      .withColumn("mnorm", sqrt(dotF($"mvec", $"mvec")))
    val row = means.join(IndexLayout.Ivf.read(spark, path, "centroids"), Seq("cid"))
      .select(when($"mnorm" * $"cnorm" === 0d, 0d)
        .otherwise(lit(1.0) - dotF($"mvec", col("cvec")) / ($"mnorm" * $"cnorm"))
        .as("d"))
      .agg(avg($"d")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0)
  }

  /** Retrain only when the measured drift justifies the migration —
    * the self-tuning trigger for the maintenance loop: below `eps`
    * the centroids still route well and the (churn-proportional, but
    * never free) retrain is skipped; above it, [[ivfRetrain]] runs
    * under its own lease + pin gates. Returns whether it retrained. */
  def ivfRetrainIfDrifted(spark: SparkSession, path: String,
                          eps: Double = 0.02): Boolean =
    if (ivfDriftMeasure(spark, path) <= eps) false
    else { ivfRetrain(spark, path); true }

  /** Index maintenance step 2 — COMPACT the fragmentation
    * [[ivfAppend]] accumulates: every append adds a file per touched
    * cell, and a long-running maintenance loop (E12) would otherwise
    * degrade probes into many-small-file reads (the same pathology
    * F14 `compaction_plan` plans around for the lake at large).
    * Compaction doubles as the index's VACUUM
    * ([[IndexLayout.Appendable.vacuum]]): cells past `maxFilesPerCell`
    * and cells carrying orphan (uncommitted) or tombstoned rows
    * rewrite to their live rows, one file each; untouched cells keep
    * their files byte-for-byte. */
  def ivfCompact(spark: SparkSession, path: String, maxFilesPerCell: Int = 1): Unit =
    IndexLayout.Ivf.vacuum(spark, path, maxFilesPerCell)

  /** [[annIvf]] served from a persisted [[ivfWrite]] index: the
    * identical probe plan over the index tables instead of the
    * in-process memo (RecallSpec pins result equality). `cell` is the
    * lists' partition column, so the probe join touches nprobe/nlist
    * of the index and never the raw corpus. Pass `queries` (vec_id,
    * embedding) for real serving — an external query batch routes on
    * the driver against the centroids alone and is scored by
    * [[graft.sources.IndexProbe]] over the probed cells (in the calling
    * thread when they are small, else one job); when
    * omitted, the self-query panel (vec_id < nQueries) is derived FROM
    * the lists table, which necessarily scans it once — the self-test
    * mode, not the serving path, and a Spark plan. */
  def annIvfServe(spark: SparkSession, path: String, nprobe: Int = 2,
                  k: Int = 5, nQueries: Int = 50,
                  queries: Option[DataFrame] = None,
                  shortlist: Option[Int] = None,
                  snapshot: Option[Seq[String]] = None,
                  selfPanel: Boolean = false): DataFrame =
    annIvfServeOn(ivfCtx(spark, path, snapshot), nprobe, k, nQueries,
      queries, shortlist, selfPanel)

  /** READ-ONCE serving context for a persisted index at `path`: the
    * centroids (nlist driver rows, read without a job by
    * [[IndexLayout.Layout.local]] — the driver router's input), the
    * committed batch ids and tombstoned ids (driver metadata, read the
    * same way, exactly once at context build) and the LIVE lists plan
    * they define (committed batches only, tombstones filtered). An
    * adaptive probe loop shares one context across its width rounds.
    * The lists plan is built on first use: an external query batch is
    * served by [[graft.sources.IndexProbe]] from the metadata alone,
    * and building the plan costs a listing of every cell directory
    * plus analysis. Only the self-test panels (the adaptive loops'
    * included) and the PQ serve use it.
    * Corpus-sized data is never materialized, only the metadata is. */
  private[graft] final case class IvfCtx(spark: SparkSession, path: String,
                                         centroids: Seq[Row], committed: Seq[String],
                                         dead: Seq[Long]) {
    // the LIVE view: committed batches only (torn appends invisible),
    // tombstoned vectors filtered; every directory reads under its
    // declared IndexLayout.Ivf schema (no footer-inference job, `cell`
    // an int for the routing filter and the probe equi-join whatever
    // the partitionColumnTypeInference conf)
    lazy val lists: DataFrame = liveListsAt(spark, path, committed, dead)
      .select(col("cell"), col("neighbor_id"), col("vc").cast("array<float>").as("vc"),
        col("nc"), col("label"), col("q8"), col("qn"))
  }

  private[graft] def ivfCtx(spark: SparkSession, path: String,
                            snapshot: Option[Seq[String]] = None): IvfCtx = {
    // an explicit `snapshot` (ivfSnapshot) pins the view — snapshot
    // isolation against concurrent appends/deletes
    val committed = snapshot.getOrElse(IndexLayout.Ivf.committed(spark, path))
    IvfCtx(spark, path, IndexLayout.Ivf.local(spark, path, "centroids"), committed,
      IndexLayout.Ivf.tombstones(spark, path, committed))
  }

  /** A query panel routed on the driver: `panel` (vec_id, embedding,
    * norm) as a local relation, `probes` its (cell, query_id, vq, nq)
    * rows — [[ivfRoute]]'s output — plus `qcdot` (the query's dot with
    * its cell's centroid) when asked, and the distinct probed `cells`. */
  private final case class Routed(panel: DataFrame, probes: DataFrame, cells: Seq[Int])

  /** The router of the persisted-index serves that stay Spark plans
    * (the self-test panels, the PQ serve): the panel — a serving batch
    * small by contract — is collected once and routed on the driver
    * against the context's centroids
    * ([[graft.sources.IndexRoute.nearest]], the same cells [[ivfRoute]]
    * picks). The routed rows go back to Spark as a local relation, and
    * the cell list statically prunes the lists read: DPP does not fire
    * on the probe join (measured — all 16 dirs opened), so the serve
    * reads only the probed partitions. */
  private def ivfRouteLocal(centroids: Seq[Row], panel0: DataFrame, nprobe: Int,
                            qcdot: Boolean): Routed = {
    import scala.jdk.CollectionConverters._
    val spark = panel0.sparkSession
    val rows = panel0.select(col("vec_id"), col("embedding"), col("norm")).collect().toSeq
    val panel = spark.createDataFrame(rows.asJava, panel0.schema)
    val near = graft.sources.IndexRoute.nearest(spark,
      rows.map(r => (r.get(1), r.get(2))), centroids, nprobe)
    val probes = rows.zip(near).flatMap { case (q, cs) =>
      cs.map { i =>
        val c = centroids(i)
        val base = Seq(c.getAs[Int]("cid"), q.get(0), q.get(1), q.get(2))
        Row.fromSeq(if (qcdot) base :+ graft.sources.IndexRoute.dot(q.get(1), c.getAs[Any]("cvec"))
          else base)
      }
    }
    val schema = StructType(Seq(StructField("cell", IntegerType),
        panel0.schema("vec_id").copy(name = "query_id"),
        panel0.schema("embedding").copy(name = "vq"), panel0.schema("norm").copy(name = "nq")) ++
      (if (qcdot) Seq(StructField("qcdot", DoubleType)) else Nil))
    Routed(panel, spark.createDataFrame(probes.asJava, schema),
      probes.map(_.getInt(0)).distinct)
  }

  /** `queries` given: routed on the driver and served by
    * [[graft.sources.IndexProbe]] over the probed cells. External
    * queries number their OWN id namespace: a batch vector that happens
    * to share a corpus id must not lose that corpus neighbor, so
    * self-exclusion applies only when `selfPanel` marks the batch as
    * the index's own members (the adaptive loop's shrinking panel).
    * Without `queries`, the self-test panel is served by the Spark plan
    * ([[ivfScore]], or [[ivfScoreRerank]] with a shortlist). */
  private[graft] def annIvfServeOn(ctx: IvfCtx, nprobe: Int,
                                   k: Int, nQueries: Int,
                                   queries: Option[DataFrame],
                                   shortlist: Option[Int],
                                   selfPanel: Boolean): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    queries match {
      case Some(q) =>
        val panel = q.select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
          .withColumn("norm", sqrt(dotF($"embedding", $"embedding")))
        val rows = panel.collect().toSeq
        val near = graft.sources.IndexRoute.nearest(spark,
          rows.map(r => (r.get(1), r.get(2))), ctx.centroids, nprobe)
        graft.sources.IndexProbe.ivf(spark, ctx.path, ctx.committed, ctx.dead,
          rows.zip(near).map { case (r, cs) => graft.sources.IndexProbe.RoutedQuery(
            r.get(0), r.get(1), r.get(2), cs.map(ctx.centroids(_).getAs[Int]("cid"))) },
          panel.schema("vec_id").copy(name = "query_id"), k, shortlist, selfPanel)
      case None =>
        val lists = ctx.lists
        val panel = lists.filter($"neighbor_id" < nQueries)
          .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
        // route FIRST, on the driver, then statically prune the lists
        // read to the probed cell directories
        val Routed(_, routed, probedCells) = ivfRouteLocal(ctx.centroids, panel, nprobe,
          qcdot = false)
        val probed = lists.filter($"cell".isin(probedCells: _*))
        shortlist match {
          case Some(sl) =>
            // two-stage serve: the wide pass reads ONLY the code columns
            // (parquet column pruning — the float vectors never enter
            // the wide scan), the rerank fetch reads floats for
            // candidates in the probed cells alone.
            ivfScoreRerank(routed,
              probed.select($"cell", $"neighbor_id", $"q8", $"qn"),
              probed.select($"neighbor_id", $"vc", $"nc"), sl, k)
          case None => ivfScore(routed, probed, k)
        }
    }
  }

  /** C7d `ann_ivf_append` — the incremental-maintenance path under the
    * gate: build the index from a 70%-by-id corpus prefix
    * ([[ivfWriteFrom]]), [[ivfAppend]] the remaining 30% as an
    * arriving batch (frozen centroids, only touched cell partitions
    * written), then serve the full query panel two-stage from the
    * appended index. check.py grades recall@5 against DuckDB brute
    * force over the WHOLE corpus — the appended vectors are only
    * findable if the append actually landed in the right cells.
    * Rows-only (centroid geometry); RecallSpec additionally pins
    * append ≡ one-shot assign-all under the same centroids, exactly. */
  def annIvfAppendServe(spark: SparkSession, dir: String, nlist: Int = 16,
                        nprobe: Int = 10, shortlist: Int = 32, k: Int = 5,
                        nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    prefixIvfDrill(spark, dir, "graft_ivf_append", nlist) { (tmp, all, cut) =>
      ivfAppend(spark, tmp, all.filter($"vec_id" > cut))
      annIvfServe(spark, tmp, nprobe = nprobe, k = k,
        nQueries = nQueries, shortlist = Some(shortlist))
    }
  }

  /** C7e `ann_ivf_retrain` — the full maintenance CYCLE under the
    * gate: 70% prefix build → 30% batch append under frozen centroids
    * ([[ivfAppend]]) → centroid retrain with list migration
    * ([[ivfRetrain]] — drift from the appended batch folds into the
    * centroids) → two-stage serve. check.py grades recall@5 vs brute
    * force over the whole corpus; the retrained index must still find
    * everything the drift-blind one did. Rows-only (centroid
    * geometry). */
  def annIvfRetrainServe(spark: SparkSession, dir: String, nlist: Int = 16,
                         nprobe: Int = 10, shortlist: Int = 32, k: Int = 5,
                         nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    prefixIvfDrill(spark, dir, "graft_ivf_retrain", nlist) { (tmp, all, cut) =>
      ivfAppend(spark, tmp, all.filter($"vec_id" > cut))
      ivfRetrain(spark, tmp)
      annIvfServe(spark, tmp, nprobe = nprobe, k = k,
        nQueries = nQueries, shortlist = Some(shortlist))
    }
  }

  /** C7f `ann_ivf_delete` — the index's FORGET path under the gate,
    * run as the full lifecycle: prefix build → batch append →
    * [[ivfDelete]] of every third non-panel vector (tombstones, no
    * rewrites) → [[ivfCompact]] (physical reclaim) → two-stage serve.
    * check.py grades recall@5 against DuckDB brute force over the
    * SURVIVING corpus — a tombstoned vector that still serves, or a
    * surviving one the compaction dropped, both crater recall.
    * Rows-only like its family (centroid geometry); RecallSpec
    * additionally pins exact erasure (deleted ids never served,
    * untouched cells byte-identical, serve parity with a from-scratch
    * build on the survivors). */
  def annIvfDeleteServe(spark: SparkSession, dir: String, nlist: Int = 16,
                        nprobe: Int = 10, shortlist: Int = 32, k: Int = 5,
                        nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    prefixIvfDrill(spark, dir, "graft_ivf_delete", nlist) { (tmp, all, cut) =>
      ivfAppend(spark, tmp, all.filter($"vec_id" > cut))
      ivfDelete(spark, tmp,
        all.filter($"vec_id" % 3 === 0 && $"vec_id" >= nQueries).select($"vec_id"))
      ivfCompact(spark, tmp)
      annIvfServe(spark, tmp, nprobe = nprobe, k = k,
        nQueries = nQueries, shortlist = Some(shortlist))
    }
  }

  /** The IVF lifecycle drills' skeleton (C7d/e/f, the PQ appends, E12): in
    * a scratch index, the corpus's [[Tables.prefixCut]] prefix build
    * ([[prefixIvfWrite]]), then `body(index, corpus, cut)` maintains
    * and serves it. An empty corpus has no index to build: it serves
    * the empty answer rather than writing a schemaless parquet dir. */
  private[graft] def prefixIvfDrill(spark: SparkSession, dir: String, scratch: String, nlist: Int)(
      body: (String, DataFrame, Long) => DataFrame): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir)
    Tables.prefixCut(all, "vec_id").fold(Seq.empty[(Long, Long, Int, Int, Double)]
      .toDF("query_id", "neighbor_id", "cell", "rank_nn", "cosine")) { cut =>
      graft.sources.Lake.withScratchIndex(spark, scratch) { tmp =>
        prefixIvfWrite(spark, dir, tmp, nlist, cut)
        body(tmp, all, cut)
      }
    }
  }

  /** The 70%-prefix index build shared by C7d and E12 (both registry
    * entries exercise "append into a prefix-built index" on the same
    * corpus split): the BUILD computation memoizes per (dir, nlist) —
    * one Lloyd pass per registry run — while each caller still writes
    * its own on-disk copy to mutate. `cut` is the corpus's
    * [[Tables.prefixCut]]. */
  private[graft] def prefixIvfWrite(spark: SparkSession, dir: String, path: String,
                                    nlist: Int, cut: Long): Unit = {
    import spark.implicits._
    // the WRITTEN store is a session template (one Lloyd pass AND one
    // lists shuffle+encode per session, r17 opt); each caller promotes
    // a physical copy it then appends to / deletes from / compacts
    val src = Artifacts.directory(spark, Artifacts.IvfPrefixTemplate, dir,
      Seq(cut, nlist)) { d =>
      writeIndex(ivfIndexFrom(
        Tables.embeddings(spark, dir).filter($"vec_id" <= cut), nlist), d)
    }
    Artifacts.promote(spark, src)(path)
  }

  /** C16 `centroid_per_label` — mean embedding per label, emitted one
    * row per (label, dim): posexplode the vectors and average per
    * (label, pos) — a pure two-phase hash aggregate (map-side partial
    * sums), the distributed form of "class centroids" every
    * embedding-space analysis starts with. Output is flat (label, pos,
    * c_mean) rather than re-assembled arrays: array cells can't be
    * hash-compared by the gate, and downstream Spark consumers can
    * `collect_list` over pos when they need the vector back.
    * c_mean rounded to 4dp: double partial-sum association differs
    * across engines/partitionings at ~1e-13; the boundary-flip risk at
    * 1e-4 is measure-zero. */
  def centroidPerLabel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .select($"label", posexplode($"embedding"))
      .groupBy($"label", $"pos")
      .agg(round(avg($"col".cast("double")), 4).as("c_mean"),
        count(lit(1)).as("n_vecs"))
  }

  val centroidPerLabelSql: String =
    """SELECT label, CAST(i - 1 AS INT) AS pos,
      |       round(SUM(CAST(embedding[i] AS DOUBLE)) / COUNT(*), 4) AS c_mean,
      |       COUNT(*) AS n_vecs
      |FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(i)
      |GROUP BY 1, 2""".stripMargin

  /** C17 `knn_classify` — k-NN label prediction: for each query vector
    * (vec_id < nQueries), take the k nearest labeled corpus vectors by
    * cosine (corpus = the rest) and vote; ties break to the smaller
    * label. The canonical application layer over ANN — swap the
    * brute-force neighbor stage for C7/C7b buckets at scale, the vote
    * aggregation is identical. Query side broadcast; corpus never
    * shuffles before the per-query top-k. */
  def knnClassify(spark: SparkSession, dir: String, k: Int = 5, nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    val e = withNorm(spark, dir)
      .join(Tables.embeddings(spark, dir).select($"vec_id", $"label"), Seq("vec_id"))
    val q = e.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("vq"), $"norm".as("nq"))
    val c = e.filter($"vec_id" >= nQueries)
      .select($"vec_id".as("neighbor_id"), $"label", $"embedding".as("vc"), $"norm".as("nc"))
    val wNn = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    val wVote = Window.partitionBy($"query_id").orderBy($"votes".desc, $"label")
    broadcast(q).crossJoin(c)
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wNn))
      .filter($"rank_nn" <= k)
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vote_rank", row_number().over(wVote))
      .filter($"vote_rank" === 1)
      .select($"query_id", $"label".as("pred_label"), $"votes")
  }

  /** C17b `knn_classify_ivf` — k-NN classification riding the memoized
    * [[ivfIndex]] instead of a corpus-wide broadcast crossJoin: queries
    * come from the index, probe their `nprobe` nearest cells, and the
    * neighbor stage is an EQUI-join on cell against the inverted lists
    * (which carry the labels — no corpus rejoin). Vote semantics are
    * identical to [[knnClassify]], which is also its oracle.
    *
    * `nprobe` defaults to `nlist`: every cell probed ⇒ the candidate
    * set is structurally the whole labeled corpus and recall = 1 by
    * construction — the output is hash-gate EQUAL to brute force while
    * the plan is already the partitioned-probe shape (no corpus-wide
    * crossJoin; the only cross is the 16-row broadcast centroid
    * assign). At cluster scale you dial nprobe down and trade recall
    * for touching nprobe/nlist of the data — the same knob `ann_ivf`'s
    * cross-engine recall grade quantifies (0.55 at 2/16 on this
    * clusterless random corpus) — and the plan does not change shape.
    * On clustered real-world embeddings (where IVF earns its keep)
    * moderate nprobe preserves the vote; here only nprobe = nlist
    * guarantees it, so that is the gated default. */
  def knnClassifyIvf(spark: SparkSession, dir: String, nlist: Int = 16,
                     nprobe: Int = 16, k: Int = 5, nQueries: Int = 50): DataFrame = {
    import spark.implicits._
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val queries = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    val probes = nearestCell(queries, centroids, "p", nprobe)
      .select($"pcid".as("cell"), $"vec_id".as("query_id"),
        $"embedding".as("vq"), $"norm".as("nq"))
    val corpus = lists.filter($"neighbor_id" >= nQueries)
    val wNn = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    val wVote = Window.partitionBy($"query_id").orderBy($"votes".desc, $"label")
    probes.join(corpus, Seq("cell"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wNn))
      .filter($"rank_nn" <= k)
      .groupBy($"query_id", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vote_rank", row_number().over(wVote))
      .filter($"vote_rank" === 1)
      .select($"query_id", $"label".as("pred_label"), $"votes")
  }

  def knnClassifySql(k: Int = 5, nQueries: Int = 50): String =
    s"""WITH nn AS (
       |  SELECT query_id, label
       |  FROM (
       |    SELECT a.vec_id AS query_id, b.label,
       |           row_number() OVER (
       |             PARTITION BY a.vec_id
       |             ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC, b.vec_id) AS rn
       |    FROM embeddings a, embeddings b
       |    WHERE a.vec_id < $nQueries AND b.vec_id >= $nQueries)
       |  WHERE rn <= $k),
       |votes AS (
       |  SELECT query_id, label, COUNT(*) AS votes FROM nn GROUP BY 1, 2)
       |SELECT query_id, label AS pred_label, votes
       |FROM (SELECT *, row_number() OVER (
       |        PARTITION BY query_id ORDER BY votes DESC, label) AS vr FROM votes)
       |WHERE vr = 1""".stripMargin

  /** Extension `embedding_quantize` — int8 scalar quantization of the
    * embedding column: per-vector scale = 127/max|xᵢ|, qᵢ =
    * ⌊xᵢ·scale + ½⌋ — the storage/ANN-memory step a large vector
    * pipeline runs before indexing (4× smaller than float32, SIMD
    * int8 dot products downstream). PURE per-row compute: the scale
    * is an in-row array fold, no aggregate, no shuffle — at 100 TB
    * this is a scan. Output is flat (vec_id, pos, q) + the scale, so
    * the gate hash-compares every quantized cell; a companion spec
    * bounds the dequantization error (cosine(dequant, orig) ≥ 0.999).
    *
    * Rounding is ⌊x + ½⌋ (half toward +∞), NOT round(): both engines
    * evaluate floor on identical doubles bit-exactly, while round()'s
    * tie semantics are engine-specific — the same engine-portability
    * posture as F10's integer micro-rates. Zero vectors quantize to
    * scale 0 / all-zero rather than dividing by zero. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.embeddings(spark, dir)
      .withColumn("maxabs", expr(
        "cast(array_max(transform(embedding, x -> abs(x))) as double)"))
      .withColumn("scale",
        when($"maxabs" > 0d, lit(127.0) / $"maxabs").otherwise(lit(0.0)))
      .select($"vec_id", $"scale", posexplode($"embedding"))
      .select($"vec_id", $"pos",
        floor($"col".cast("double") * $"scale" + 0.5).cast("int").as("q"),
        $"scale")
  }

  val embeddingQuantizeSql: String =
    """WITH scaled AS (
      |  SELECT vec_id,
      |         CASE WHEN m > 0 THEN 127.0 / m ELSE 0.0 END AS scale,
      |         embedding
      |  FROM (SELECT vec_id, embedding,
      |               CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
      |        FROM embeddings))
      |SELECT vec_id, CAST(i - 1 AS INT) AS pos,
      |       CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * scale + 0.5) AS INT) AS q,
      |       scale
      |FROM scaled, unnest(generate_series(1, len(embedding))) AS t(i)""".stripMargin

  /** C7 `ann_lsh` — random-hyperplane LSH approximate neighbors,
    * banded like its siblings: 64 sign bits per vector (deterministic
    * hash-derived hyperplanes — reproducible on any cluster with no
    * broadcast of plane matrices) split into 4 bands × 16 bits; the
    * build side posts each band value, the probe side posts each band
    * value plus its 16 single-bit flips (multiprobe, as
    * [[embeddingDedupLsh]]); candidates are the (band, value) join,
    * then EXACT cosine verifies and ranks top-k per query. Emits each
    * query's best k candidates (queries whose signature collides with
    * nothing emit nothing — the approximate contract).
    *
    * Scale: band value is the shuffle key and postings carry ids only
    * (vectors ride ONLY the two verify hash-joins); candidate volume is
    * ∝ collisions in a 2¹⁶-value space per band, NOT n²/buckets of the
    * old fixed-64-bucket form, and `bucketCap` drops degenerate buckets
    * (identical-content floods) exactly like C2/C3 — the plan survives
    * a 100× corpus where quadratic-within-64-buckets does not. Recall
    * tunes with bands/bits/probes.
    *
    * HASH-GATED: the planes are md5-derived
    * ([[graft.functions.VectorExpressions.hyperplane]]), so
    * [[annLshSql]] rebuilds the identical signatures — sign bits agree
    * bit-exactly because both engines accumulate the plane dot in
    * sequential double arithmetic (verified: 0 mismatches in 32k dots).
    * Output carries ranks, not cosines (the C6 posture: float values
    * order the result but never hit the hash). The specs additionally
    * assert collision quality rises with cosine. */
  def annLsh(spark: SparkSession, dir: String, k: Int = 5,
             bucketCap: Int = 2000): DataFrame = {
    import spark.implicits._
    val dims = 64
    val bandBits = 16
    val nBands = 4
    // eager: e feeds the signature build AND both verify joins
    val e = withNorm(spark, dir).localCheckpoint()
    def bandVal(b: Int): Column =
      (b * bandBits until (b + 1) * bandBits).map { p =>
        when(dotF($"embedding", typedLit(hyperplane(p, dims))) > 0d,
          lit(1L << (p - b * bandBits))).otherwise(lit(0L))
      }.reduce(_ + _)
    // eager: the signature table feeds the build postings, the bucket
    // sizing AND the probe postings, which launch concurrently
    val sig = e.select($"vec_id" +: (0 until nBands).map(b => bandVal(b).as(s"b$b")): _*)
      .localCheckpoint()
    val build0 = sig.select($"vec_id",
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
      .select($"vec_id".as("neighbor_id"), $"pos".as("band"), $"col".as("bval"))
    val saneBuckets = build0.groupBy($"band", $"bval")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" <= bucketCap)
      .select($"band", $"bval")
    val build = build0.join(saneBuckets, Seq("band", "bval"))
    val probe = sig.select($"vec_id",
      posexplode(array((0 until nBands).map(b => col(s"b$b")): _*)))
      .select($"vec_id".as("query_id"), $"pos".as("band"),
        explode(expr(s"transform(sequence(-1, ${bandBits - 1})," +
          " j -> if(j < 0, col, col ^ shiftleft(1L, j)))")).as("bval"))
    val cands = probe.join(build, Seq("band", "bval"))
      .filter($"query_id" =!= $"neighbor_id")
      .select($"query_id", $"neighbor_id").distinct()
    val a = e.select($"vec_id".as("query_id"), $"embedding".as("vq"), $"norm".as("nq"))
    val b = e.select($"vec_id".as("neighbor_id"), $"embedding".as("vc"), $"norm".as("nc"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    cands.join(a, Seq("query_id")).join(b, Seq("neighbor_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(w))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"rank_nn")
  }

  /** C7 oracle: the md5-derived plane family, sign bits, 16-bit bands,
    * single-bit multiprobe, bucket cap and exact-cosine rank rebuilt in
    * SQL — mirrors [[annLsh]] construct-for-construct. */
  def annLshSql(k: Int = 5, bucketCap: Int = 2000): String =
    s"""WITH planes AS (
       |  SELECT p.p AS p,
       |         list(CAST(CAST(('0x' || substr(md5(p.p || ':' || i.i), 1, 8)) AS BIGINT)
       |                   % 1000 / 1000.0 - 0.5 AS FLOAT) ORDER BY i.i) AS w
       |  FROM range(0, 64) p(p), range(0, 64) i(i) GROUP BY 1),
       |sbits AS (
       |  SELECT e.vec_id, p.p,
       |         CASE WHEN list_sum(list_transform(range(1, 65),
       |                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.w[i] AS DOUBLE))) > 0
       |           THEN 1 ELSE 0 END AS s
       |  FROM embeddings e CROSS JOIN planes p),
       |bands AS (
       |  SELECT vec_id, p // 16 AS band,
       |         CAST(SUM(s * (CAST(1 AS BIGINT) << (p % 16))) AS BIGINT) AS bval
       |  FROM sbits GROUP BY 1, 2),
       |sane AS (
       |  SELECT band, bval FROM bands GROUP BY 1, 2 HAVING COUNT(*) <= $bucketCap),
       |build AS (
       |  SELECT b.vec_id AS neighbor_id, b.band, b.bval
       |  FROM bands b JOIN sane USING (band, bval)),
       |probe AS (
       |  SELECT vec_id AS query_id, band, bval FROM bands
       |  UNION ALL
       |  SELECT vec_id, band, xor(bval, CAST(1 AS BIGINT) << j.j)
       |  FROM bands, range(0, 16) j(j)),
       |cand AS (
       |  SELECT DISTINCT p.query_id, b.neighbor_id
       |  FROM probe p JOIN build b ON p.band = b.band AND p.bval = b.bval
       |  WHERE p.query_id <> b.neighbor_id)
       |SELECT query_id, neighbor_id, CAST(rn AS INT) AS rank_nn
       |FROM (
       |  SELECT c.query_id, c.neighbor_id,
       |         row_number() OVER (PARTITION BY c.query_id
       |           ORDER BY list_cosine_similarity(a.embedding, b.embedding) DESC,
       |                    c.neighbor_id) AS rn
       |  FROM cand c JOIN embeddings a ON a.vec_id = c.query_id
       |              JOIN embeddings b ON b.vec_id = c.neighbor_id)
       |WHERE rn <= $k""".stripMargin

  /** C34 `lsh_diversity_sample` — cluster-balanced diverse subset
    * selection over the embedding space: partition the corpus into LSH
    * cells (sign bits of the C7/C5b md5-derived hyperplane family —
    * reproducible on any cluster, and in the oracle), apportion a
    * global pick budget across cells by the F21 largest-remainder rule
    * with weight √size (the temperature-flattened allocation: a
    * dominant mode contributes ∝√mass, so coverage tilts toward the
    * space's spread rather than its density — the cluster-balanced
    * selection posture of diversity-aware curation work), then pick
    * each cell's quota by a deterministic per-vector md5 draw. Output:
    * the picked panel with its cell, cell size, quota and in-cell rank.
    * A cell smaller than its seat count under-fills honestly (picks =
    * min(quota, size)); Σ quota == budget by construction (F21).
    *
    * ENGINE-EXACT: sign bits gate bit-identically (C7's proven plane
    * family), the apportionment is F21's proven IEEE chain, the draw
    * is the F4/F11 md5-prefix uniform — fully hash-gated.
    *
    * Scale: one scan computes cells (per-row dot products, codegen);
    * sizes/quotas live on a ≤2^bits-row aggregate (driver-metadata
    * class — its global seat window is declared, mixture_allocate's
    * posture); the only data-sized shuffle is the per-cell pick rank
    * (partitioned window, F16's top-m class). Nothing pairwise. */
  def lshDiversitySample(spark: SparkSession, dir: String,
                         budget: Long = 200L, bits: Int = 6): DataFrame = {
    import spark.implicits._
    val dims = 64
    val cells = Tables.embeddings(spark, dir)
      .select($"vec_id",
        (0 until bits).map { p =>
          when(dotF($"embedding", typedLit(hyperplane(p, dims))) > 0d,
            lit(1 << p)).otherwise(lit(0))
        }.reduce(_ + _).cast("int").as("cell"))
      // eager: cells feeds the size aggregate AND the pick window
      .localCheckpoint()
    apportionPick(cells, budget)
  }

  /** Budget apportionment + in-cell pick over a (vec_id, cell) frame —
    * the frame-based core of C34 (lets the spec plant a skewed cell
    * layout and pin the √-flattening). */
  private[graft] def apportionPick(cells: DataFrame, budget: Long): DataFrame = {
    import cells.sparkSession.implicits._
    val sizes = cells.groupBy($"cell").agg(count(lit(1)).as("cell_size"))
      .withColumn("w", sqrt($"cell_size".cast("double")))
    val tot = sizes.agg(sum($"w").as("tw"))
    val q = sizes.crossJoin(broadcast(tot))
      .withColumn("qraw", lit(budget.toDouble) * $"w" / $"tw")
      .withColumn("base", floor($"qraw").cast("long"))
      .withColumn("rem", round($"qraw" - $"base", 9))
    val leftover = q.agg((lit(budget) - sum($"base")).as("l"))
    val wRem = Window.orderBy($"rem".desc, $"cell")
    val quotas = q.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRem))
      .select($"cell", $"cell_size",
        ($"base" + when($"rk" <= $"l", 1L).otherwise(0L)).as("quota"))
    val wPick = Window.partitionBy($"cell").orderBy($"ukey", $"vec_id")
    cells
      .withColumn("ukey",
        conv(substring(md5(concat($"vec_id".cast("string"), lit(":div"))), 1, 12), 16, 10)
          .cast("long"))
      .withColumn("pick_rank", row_number().over(wPick))
      .join(quotas, Seq("cell"))
      .filter($"pick_rank" <= $"quota")
      .select($"vec_id", $"cell", $"cell_size", $"quota", $"pick_rank")
  }

  /** C34 oracle: the same plane family, √-weight largest-remainder
    * seats and md5 in-cell draw in DuckDB. */
  def lshDiversitySampleSql(budget: Long = 200L, bits: Int = 6): String =
    s"""WITH planes AS (
       |  SELECT p.p AS p,
       |         list(CAST(CAST(('0x' || substr(md5(p.p || ':' || i.i), 1, 8)) AS BIGINT)
       |                   % 1000 / 1000.0 - 0.5 AS FLOAT) ORDER BY i.i) AS w
       |  FROM range(0, $bits) p(p), range(0, 64) i(i) GROUP BY 1),
       |cells AS (
       |  SELECT e.vec_id,
       |         CAST(SUM(CASE WHEN list_sum(list_transform(range(1, 65),
       |                i -> CAST(e.embedding[i] AS DOUBLE) * CAST(p.w[i] AS DOUBLE))) > 0
       |           THEN (1 << p.p) ELSE 0 END) AS INT) AS cell
       |  FROM embeddings e CROSS JOIN planes p GROUP BY 1),
       |sizes AS (SELECT cell, COUNT(*) AS cell_size,
       |                 sqrt(CAST(COUNT(*) AS DOUBLE)) AS w
       |          FROM cells GROUP BY 1),
       |tot AS (SELECT SUM(w) AS tw FROM sizes),
       |q AS (SELECT cell, cell_size,
       |             CAST($budget AS DOUBLE) * w / tot.tw AS qraw,
       |             CAST(floor(CAST($budget AS DOUBLE) * w / tot.tw) AS BIGINT) AS base
       |      FROM sizes, tot),
       |lo AS (SELECT $budget - SUM(base) AS l FROM q),
       |qr AS (SELECT *, row_number() OVER (
       |         ORDER BY round(qraw - base, 9) DESC, cell) AS rk FROM q),
       |quotas AS (SELECT cell, cell_size,
       |                  base + CASE WHEN rk <= lo.l THEN 1 ELSE 0 END AS quota
       |           FROM qr, lo),
       |picks AS (
       |  SELECT vec_id, cell,
       |         row_number() OVER (PARTITION BY cell
       |           ORDER BY CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':div'), 1, 12)) AS BIGINT),
       |                    vec_id) AS pick_rank
       |  FROM cells)
       |SELECT p.vec_id, p.cell, q.cell_size, q.quota,
       |       CAST(p.pick_rank AS INT) AS pick_rank
       |FROM picks p JOIN quotas q USING (cell)
       |WHERE p.pick_rank <= q.quota""".stripMargin

  // ──────────────── C7g: IVF + product quantization (IVFADC) ────────────────

  /** Split each row's `vecCol` into `m` contiguous subspaces of `dsub`
    * dims: one (…, sub, sv) row per subspace (`slice` is 1-based). */
  private def pqSubspaces(vecs: DataFrame, vecCol: String, m: Int,
                          dsub: Int): DataFrame =
    vecs.withColumn("sub", explode(array((0 until m).map(lit): _*)))
      .withColumn("sv", expr(s"slice($vecCol, sub * $dsub + 1, $dsub)"))
      .drop(vecCol)

  /** |cvec|²/2 riding each codeword so the L2 argmin (max of
    * sv·c − |c|²/2; the |sv|² term is constant per row) never
    * recomputes it. */
  private def withChalf(books: DataFrame): DataFrame =
    books.withColumn("chalf", dotF(col("cvec"), col("cvec")) / 2d)

  /** Nearest codeword per (vec_id, sub) by L2 distance — the
    * [[nearestCell]] max_by hash-agg posture (no window over the
    * corpus × kpq scored set), ties to the lowest code. Keeps `sv`
    * for the refinement step. */
  private def nearestCode(subs: DataFrame, books: DataFrame): DataFrame = {
    import subs.sparkSession.implicits._
    subs.join(broadcast(books), Seq("sub"))
      .withColumn("score", dotF($"sv", $"cvec") - $"chalf")
      .groupBy($"vec_id", $"sub")
      .agg(max_by(struct($"sv", $"code"), struct($"score", -$"code")).as("best"))
      .select($"vec_id", $"sub", $"best.sv".as("sv"), $"best.code".as("code"))
  }

  /** PQ sub-codebook training over (vec_id, embedding) — the
    * [[ivfIndexFrom]] posture per subspace: deterministic seeds (the
    * first `kpq` vectors' subvectors), one Lloyd step (L2 assign via
    * the max_by hash-agg, recenter to member dimension means), then
    * codes DENSIFIED per subspace (row_number over the ≤ m·kpq
    * codeword table) so a drained seed can never shift LUT indexing.
    * Output (sub, code, cvec, chalf) is broadcast-sized metadata;
    * at 100 TB the train step runs on a bounded sample, exactly as
    * the IVF centroids do. */
  private[graft] def pqCodebooks(vecs: DataFrame, m: Int, dsub: Int,
                                 kpq: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    val subs = pqSubspaces(vecs.select($"vec_id", $"embedding"), "embedding", m, dsub)
    val seeds = withChalf(subs.filter($"vec_id" < kpq)
      .select($"sub", $"vec_id".cast("int").as("code"), $"sv".as("cvec")))
    val refined = nearestCode(subs, seeds)
      .select($"sub", $"code", posexplode($"sv"))
      .groupBy($"sub", $"code", $"pos")
      .agg(avg($"col".cast("double")).as("mval"))
      .groupBy($"sub", $"code")
      .agg(array_sort(collect_list(struct($"pos", $"mval"))).as("pm"))
      .select($"sub", $"code",
        expr("transform(pm, x -> cast(x.mval as float))").as("cvec"))
    val dense = Window.partitionBy($"sub").orderBy($"code")
    withChalf(refined
      .withColumn("code", (row_number().over(dense) - 1).cast("int")))
      .localCheckpoint()
  }

  /** Encode (vec_id, embedding) against trained books:
    * codes[sub] = nearest codeword — m small ints per vector, the
    * 100 TB payload (m bytes byte-packed vs 4·dim float; 16× at the
    * registry's m=16 over dim=64, vs q8's 4×). */
  private[graft] def pqEncode(vecs: DataFrame, books: DataFrame, m: Int,
                              dsub: Int): DataFrame = {
    import vecs.sparkSession.implicits._
    nearestCode(
      pqSubspaces(vecs.select($"vec_id", $"embedding"), "embedding", m, dsub), books)
      .groupBy($"vec_id")
      .agg(array_sort(collect_list(struct($"sub", $"code"))).as("sc"))
      .select($"vec_id", expr("transform(sc, x -> x.code)").as("codes"))
  }

  /** ADC lookup tables: lut[sub][code] = (query subvector)·codeword —
    * O(m·kpq) doubles per query, broadcast with the probe set. The
    * cheap pass is then one gather-add per candidate
    * (Σ_sub lut[sub][codes[sub]] ≈ q·r), no float vector touched. */
  private def pqLut(queries: DataFrame, books: DataFrame, m: Int,
                    dsub: Int): DataFrame = {
    import queries.sparkSession.implicits._
    pqSubspaces(queries.select($"vec_id", $"embedding"), "embedding", m, dsub)
      .join(broadcast(books), Seq("sub"))
      .withColumn("pdot", dotF($"sv", $"cvec"))
      .groupBy($"vec_id", $"sub")
      .agg(array_sort(collect_list(struct($"code", $"pdot"))).as("cp"))
      .select($"vec_id", $"sub", expr("transform(cp, x -> x.pdot)").as("lrow"))
      .groupBy($"vec_id")
      .agg(array_sort(collect_list(struct($"sub", $"lrow"))).as("sr"))
      .select($"vec_id".as("query_id"), expr("transform(sr, x -> x.lrow)").as("lut"))
  }

  /** Memoized PQ artifacts per (dir, nlist, m, kpq): RESIDUAL
    * sub-codebooks + the coded index rows (cell, neighbor_id, codes,
    * nc). Residual coding is the IVFADC refinement: what's quantized
    * is r = x − c(cell), whose energy is what the coarse quantizer
    * did NOT explain, so q·x = q·c(cell) (exact, one dot per probed
    * cell) + q·r (ADC) — strictly tighter than quantizing x whole.
    * Codes ride the lists exactly like q8: the ADC pass reads only
    * the m-byte codes and the scalar norm. */
  private[graft] def pqIndex(spark: SparkSession, dir: String, nlist: Int,
                             m: Int, dsub: Int, kpq: Int): (DataFrame, DataFrame) =
    Artifacts.value(spark, Artifacts.PqIndex, dir, nlist, m, dsub, kpq) {
      import spark.implicits._
      val (centroids, lists) = ivfIndex(spark, dir, nlist)
      val resid = lists
        .join(broadcast(centroids.select($"cid".as("cell"), $"cvec")), Seq("cell"))
        .select($"cell", $"neighbor_id", $"nc",
          expr("zip_with(vc, cvec, (a, b) -> cast(a - b as float))").as("rvec"))
      val vecs = resid.select($"neighbor_id".as("vec_id"), $"rvec".as("embedding"))
      val books = pqCodebooks(vecs, m, dsub, kpq)
      val coded = resid.select($"cell", $"neighbor_id", $"nc")
        .join(pqEncode(vecs, books, m, dsub)
          .withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .localCheckpoint()
      (books, coded)
    }

  /** C7g `ann_ivf_pq` — IVFADC serving (Jégou/Douze/Schmid, "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): probed
    * cells' candidates score by asymmetric distance computation —
    * q·x ≈ q·c(cell) (exact, per probed cell) + Σ_sub lut[sub][code]
    * over the m-byte residual codes — then the top-`shortlist` rerank
    * by exact float cosine (the C7c bounded-fetch posture). This is
    * the third point on the family's compression curve: float scan
    * (C7b) → int8 codes, 4× (C7c) → PQ codes, 16× (C7g); at 100 TB
    * the wide pass reads m bytes + one scalar per candidate and each
    * query ships a broadcast-sized O(m·kpq) lookup table instead of
    * its float vector.
    *
    * Codebook geometry is engine-specific ⇒ rows-only; check.py
    * grades recall@5 vs DuckDB brute force (floor 0.8; measured
    * 0.948 sf0.001 / 0.904 sf0.1 at the m=16, kpq=32, shortlist=128
    * defaults — the 128 buys 0.872→0.904 at sf0.1 for an O(queries)
    * float-fetch delta); RecallSpec pins the PQ invariants (dense
    * codes, code range, ADC ranking quality vs exact). */
  def annIvfPq(spark: SparkSession, dir: String, nlist: Int = 16, nprobe: Int = 10,
               m: Int = 16, kpq: Int = 32, shortlist: Int = 128, k: Int = 5,
               nQueries: Int = 50, dim: Int = 64): DataFrame = {
    import spark.implicits._
    val dsub = dim / m
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val (books, coded) = pqIndex(spark, dir, nlist, m, dsub, kpq)
    val queries = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    val probes = ivfRoute(centroids, queries, nprobe)
      .join(broadcast(centroids.select($"cid".as("cell"), $"cvec")), Seq("cell"))
      .withColumn("qcdot", dotF($"vq", $"cvec"))
      .drop("cvec")
      .join(pqLut(queries.select($"vec_id", $"embedding"), books, m, dsub),
        Seq("query_id"))
    val wS = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"neighbor_id")
    val short = broadcast(probes).join(coded, Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("adc", $"qcdot" + expr(
        "aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c + 1)), 0D, (a, x) -> a + x)"))
      .withColumn("qcos", when($"nc" > 0d, $"adc" / ($"nq" * $"nc")).otherwise(lit(-2d)))
      .withColumn("srank", row_number().over(wS))
      .filter($"srank" <= shortlist)
      .select($"query_id", $"neighbor_id", $"cell", $"vq", $"nq")
    val wK = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(short).join(lists.select($"neighbor_id", $"vc", $"nc"), Seq("neighbor_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wK))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine")
  }

  // ────────── C7g persisted: the PQ sidecar on the on-disk index ──────────

  /** Fingerprint of the index's CURRENT centroids — bounded driver
    * metadata (nlist rows). The sidecar's residual codes are defined
    * against the centroid a vector's cell had at encode time; retrain
    * moves centroids, silently invalidating every residual, so the
    * stamp rides the codebooks and [[pqCoverageGap]]/[[pqRefresh]]
    * treat a mismatch as "everything is uncoded". */
  private def pqStamp(spark: SparkSession, path: String): String =
    pqStampOf(IndexLayout.Ivf.local(spark, path, "centroids"))

  private def pqStampOf(centRows: Seq[org.apache.spark.sql.Row]): String = {
    val rows = centRows
      .map(r => s"${r.getAs[Number]("cid")}:${r.getSeq[Float](1).mkString(",")}")
      .sorted.mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(rows.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** The sidecar's committed code rows under the CURRENT centroid
    * stamp, tombstones filtered — every ADC reader starts here, so a
    * torn refresh, a stale (pre-retrain) code batch, or a deleted
    * vector can never enter a shortlist. A MISSING `pq/commits` (or
    * `pq/codes`) directory is "no committed batches", not an error:
    * an attach that crashed between the sidecar reset and its commit
    * write leaves exactly this state, and readers must see an empty
    * sidecar (coverage gap = everything uncoded) so the re-driven
    * attach heals it instead of every reader throwing. */
  private def pqLiveCodes(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    if (!pqCodesPresent(spark, path))
      return liveLists(spark, path).filter(lit(false))
        .select($"cell", $"neighbor_id",
          lit(null).cast("array<int>").as("codes"), $"nc")
    // a missing commit log reads as no committed batch
    val committed = pqCommitted(spark, path, pqStamp(spark, path))
    IndexLayout.Pq.read(spark, path, "pq/codes")
      .filter($"pq_batch".isin(committed: _*))
      .join(broadcast(pqDead(spark, path).toDF("neighbor_id")), Seq("neighbor_id"),
        "left_anti")
      .drop("pq_batch")
  }

  private def pqCodesPresent(spark: SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sessionState.newHadoopConf())
      .exists(new org.apache.hadoop.fs.Path(s"$path/pq/codes"))

  /** The sidecar's tombstones: the IVF index's committed ones. */
  private def pqDead(spark: SparkSession, path: String): Seq[Long] =
    IndexLayout.Ivf.tombstones(spark, path, IndexLayout.Ivf.committed(spark, path))

  /** The sidecar's committed code batches under centroid stamp `stamp`. */
  private def pqCommitted(spark: SparkSession, path: String, stamp: String): Seq[String] =
    IndexLayout.Pq.batches(IndexLayout.Pq.log(spark, path)
      .filter(_.getAs[String]("cstamp") == stamp))

  /** Residuals of an explicit live-row set against the index's CURRENT
    * centroids: (vec_id, embedding=r, cell, nc). */
  private def pqResiduals(spark: SparkSession, path: String,
                          rows: DataFrame): DataFrame = {
    import spark.implicits._
    val cents = IndexLayout.Ivf.read(spark, path, "centroids")
      .select($"cid".as("cell"), $"cvec")
    rows.join(broadcast(cents), Seq("cell"))
      .select($"neighbor_id".as("vec_id"), $"cell", $"nc",
        expr("zip_with(vc, cvec, (a, b) -> cast(a - b as float))").as("embedding"))
  }

  /** ATTACH a PQ sidecar to a persisted [[ivfWrite]] index: train
    * residual sub-codebooks over the live lists and encode every live
    * vector. Layout under `path/pq/`: `books/` (one broadcast-sized
    * file; every row carries m, dsub, kpq and the centroid stamp —
    * fully self-describing, the raw-BM25 lesson), `codes/`
    * PARTITIONED BY cell (the ADC scan bucket-prunes exactly like the
    * lists), `commits/` written LAST (codes carry a per-attempt
    * pq_batch; a torn attach/refresh is invisible — readers treat the
    * missing commit log as an empty sidecar — and a re-drive lands
    * once). Attach resets any previous sidecar at this path, so like
    * every rewriting mutator it runs under the index's exclusive
    * writer lease and refuses while a read pin is live (a pinned ADC
    * reader may still be scoring the very code files the reset
    * deletes). */
  def pqAttach(spark: SparkSession, path: String, m: Int = 16,
               kpq: Int = 32, opqIters: Int = 0): Unit =
      IndexLayout.maintain(spark, path, "pqAttach") {
    import spark.implicits._
    // one driver-side centroid read serves both the stamp and the
    // dimension
    val centRows = IndexLayout.Ivf.local(spark, path, "centroids")
    val stamp = pqStampOf(centRows)
    val live = liveLists(spark, path)
      .select($"cell", $"neighbor_id", $"vc".cast("array<float>").as("vc"), $"nc")
      .localCheckpoint()
    val dim = centRows.head.getSeq[Float](1).length
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    val resid = pqResiduals(spark, path, live)
    // opqIters > 0 attaches the OPQ variant (C7i persisted): the
    // rotation trains over a bounded hash-ordered residual sample,
    // books fit the ROTATED residuals and codes quantize them; the
    // dim² rotation + its training posture persist ON the books rows
    // (every row self-describing — the raw-BM25 lesson), so refresh,
    // reattach and the ADC serve all recover it with zero new torn
    // states. The ADC identity q·r = (qR)·(rR) keeps serving exact
    // up to quantization, same as the in-session C7i plan.
    val (rotOpt, books) =
      if (opqIters > 0) {
        val sample = resid
          .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(4096)
          .select($"embedding").collect().map(_.getSeq[Float](0).toArray)
        val (rMat, books3, _) = opqTrain(sample, m, dsub, kpq, iters = opqIters)
        (Some(rMat), withChalf(books3.zipWithIndex.flatMap { case (cws, sub) =>
            cws.zipWithIndex.map { case (cw, code) => (sub, code, cw.toSeq) }
          }.toSeq.toDF("sub", "code", "cvec")
          .withColumn("cvec", $"cvec".cast("array<float>")))
          .localCheckpoint())
      } else
        (None, pqCodebooks(resid.select($"vec_id", $"embedding"), m, dsub, kpq))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/pq"), true)
    val toCode = rotOpt.fold(resid.select($"vec_id", $"embedding"))(r =>
      resid.select($"vec_id", rotateF($"embedding", r, dim).as("embedding")))
    val L = IndexLayout.Pq
    L.append(spark, path, overwrite = true) { (batch, mode) =>
      // books and codes are independent writes to disjoint dirs (both
      // read the CHECKPOINTED books frame, not each other's files) —
      // overlap them (guide §2.6); the commit row still lands LAST
      graft.Par.jobs(
        () => books
          .withColumn("m", lit(m)).withColumn("dsub", lit(dsub))
          .withColumn("kpq", lit(kpq)).withColumn("cstamp", lit(stamp))
          .withColumn("opq_iters", lit(opqIters))
          .withColumn("rot", rotOpt.map(r => typedLit(r.toSeq).cast("array<float>"))
            .getOrElse(lit(null).cast("array<float>")))
          .coalesce(1).write.mode(mode).parquet(s"$path/pq/books"),
        () => pqEncode(toCode, books, m, dsub)
          .join(resid.select($"vec_id", $"cell", $"nc"), Seq("vec_id"))
          .select($"cell", $"vec_id".as("neighbor_id"), $"codes", $"nc")
          .withColumn("pq_batch", lit(batch))
          .repartition(col("cell"))
          .write.partitionBy("cell").mode(mode).parquet(s"$path/pq/codes"))
    }(L.row(spark, _, stamp))
  }

  /** The attach-time OPQ rotation persisted on the books rows — None
    * for a plain-PQ sidecar (and for books written before the column
    * existed, which read it as null). Driver-side dim² floats
    * (broadcast-scale metadata, like the centroids). */
  private def pqRotation(bk: DataFrame): Option[Array[Float]] = {
    val r = bk.select(col("rot")).head()
    if (r.isNullAt(0)) None else Some(r.getSeq[Float](0).toArray)
  }

  /** Live vectors the sidecar cannot ADC-score: appended since the
    * last refresh, or ALL live rows after a retrain moved the
    * centroids (stamp mismatch orphans every residual code). The
    * refresh-needed measure — the vector side's
    * [[graft.operators.TextAnalysis.bm25DeletedFraction]] analogue. */
  def pqCoverageGap(spark: SparkSession, path: String): Long = {
    import spark.implicits._
    liveLists(spark, path).select($"neighbor_id")
      .join(pqLiveCodes(spark, path).select($"neighbor_id"),
        Seq("neighbor_id"), "left_anti").count()
  }

  /** TRUE when a sidecar is attached at `path` (its codebooks file
    * exists) — the presence probe a maintenance loop gates sidecar
    * work on without touching index data. */
  def pqSidecarPresent(spark: SparkSession, path: String): Boolean =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .exists(new org.apache.hadoop.fs.Path(s"$path/pq/books"))

  /** The sidecar's QUALITY-drift signal, complementing the coverage
    * gap: TRUE when the codebooks' attach-time centroid stamp no
    * longer matches the index's current centroids — i.e. a retrain
    * moved the residual distribution the books were trained on.
    * [[pqRefresh]] after a retrain restores COVERAGE (every live
    * vector re-codes against the new centroids) but under FROZEN
    * books fit to the old residuals, so ADC quality can silently sag
    * while [[pqCoverageGap]] reads 0; this flag is the measurement
    * that says "re-fit the books" — the maintenance answer is
    * [[pqReattach]], which [[Retention.retentionSweep]] runs
    * automatically after a sweep-driven retrain. */
  def pqBooksStale(spark: SparkSession, path: String): Boolean = {
    val bk = IndexLayout.Pq.read(spark, path, "pq/books")
    bk.select(col("cstamp")).head().getString(0) != pqStamp(spark, path)
  }

  /** Re-fit the sidecar against the CURRENT centroids with the
    * attach-time geometry (m, kpq read from the existing books) — the
    * recovery step a retrain demands: retraining moves every cell's
    * residual distribution, so both the codes AND the books must
    * re-fit (a frozen-book [[pqRefresh]] only restores coverage).
    * Same cost class as the full refresh it replaces (one pass over
    * the live lists + the bounded Lloyd step), and it inherits
    * [[pqAttach]]'s lease/pin/commit-last discipline. */
  def pqReattach(spark: SparkSession, path: String): Unit = {
    val meta = IndexLayout.Pq.read(spark, path, "pq/books")
      .select(col("m"), col("kpq"), col("opq_iters")).head()
    // the OPQ posture persists with the books: a reattach after a
    // retrain re-learns the rotation over the NEW residuals with the
    // attach-time iteration budget. Books persisted before the OPQ
    // column existed read opq_iters as null — they were trained
    // plain-PQ, so default 0 (stay plain) instead of throwing; the
    // sweep automates this call over whatever sidecar vintage it finds.
    val iters = if (meta.isNullAt(2)) 0 else meta.getInt(2)
    pqAttach(spark, path, meta.getInt(0), meta.getInt(1), iters)
  }

  /** REFRESH the sidecar to current index state under FROZEN books —
    * the production cadence: codes follow every append/retrain,
    * codebooks retrain rarely (re-attach). Same-stamp refresh encodes
    * ONLY the uncoded delta and appends it (O(batch) — untouched
    * cells' code files stay byte-for-byte); after a retrain (stamp
    * mismatch) every residual is stale, so the refresh re-encodes the
    * whole live set against the new centroids and supersedes by
    * stamp — old code batches stop resolving the moment the commit
    * row lands, with no in-place rewrite. Commit row LAST either way;
    * [[pqRefreshRaw]]'s `commit = false` is the kill-between-writes
    * seam the crash spec drives. */
  def pqRefresh(spark: SparkSession, path: String): Unit =
    pqRefreshRaw(spark, path, commit = true)

  private[graft] def pqRefreshRaw(spark: SparkSession, path: String,
                                  commit: Boolean): Unit = {
    import spark.implicits._
    val stamp = pqStamp(spark, path)
    val bk = IndexLayout.Pq.read(spark, path, "pq/books")
    val meta = bk.select($"m", $"dsub").head()
    val (m, dsub) = (meta.getInt(0), meta.getInt(1))
    val books = bk.select($"sub", $"code", $"cvec", $"chalf")
    val target = liveLists(spark, path)
      .select($"cell", $"neighbor_id", $"vc".cast("array<float>").as("vc"), $"nc")
      .join(pqLiveCodes(spark, path).select($"neighbor_id"),
        Seq("neighbor_id"), "left_anti")
      .localCheckpoint()
    if (target.isEmpty) return
    val resid = pqResiduals(spark, path, target)
    // an OPQ sidecar refreshes under the FROZEN rotation exactly as
    // it freezes the books — the delta codes live in the same rotated
    // space the attach trained
    val toCode = pqRotation(bk).fold(resid.select($"vec_id", $"embedding"))(r =>
      resid.select($"vec_id", rotateF($"embedding", r, m * dsub).as("embedding")))
    val L = IndexLayout.Pq
    L.append(spark, path, overwrite = false, commit) { (batch, mode) =>
      pqEncode(toCode, books, m, dsub)
        .join(resid.select($"vec_id", $"cell", $"nc"), Seq("vec_id"))
        .select($"cell", $"vec_id".as("neighbor_id"), $"codes", $"nc")
        .withColumn("pq_batch", lit(batch))
        .repartition(col("cell"))
        .write.partitionBy("cell").mode(mode).parquet(s"$path/pq/codes")
    }(L.row(spark, _, stamp))
  }

  /** Physical reclaim for the sidecar — [[ivfCompact]]'s posture over
    * `pq/codes`: cells carrying DEAD code rows (uncommitted or
    * stale-stamp batches — a retrain's supersede leaves the old
    * encoding on disk — or tombstoned vectors) and fragmented cells
    * rewrite to their live rows only; clean cells keep their files
    * byte-for-byte; a drained cell's directory drops. Runs under the
    * index's exclusive writer lease and refuses while a read pin is
    * live (stale-stamp rows are exactly what a pinned pre-retrain
    * reader may still be ADC-scoring). */
  def pqVacuum(spark: SparkSession, path: String, maxFilesPerCell: Int = 1): Unit =
      IndexLayout.maintain(spark, path, "pqVacuum") {
    // no code files → nothing to reclaim (incl. the torn-attach state);
    // a missing commit log (torn attach) orphans every code row: the
    // empty committed set marks them all dead and the rewrite drops them
    if (pqCodesPresent(spark, path))
      IndexLayout.Pq.rewrite(spark, path, pqCommitted(spark, path, pqStamp(spark, path)),
        pqDead(spark, path), maxFilesPerCell)
  }

  /** [[annIvfPq]] served from the persisted sidecar: route on the
    * driver against the centroids, ADC over ONLY the probed cells' code
    * partitions (statically pruned like [[annIvfServe]] — the wide
    * pass reads m-byte codes + one scalar norm, never a float
    * vector), exact-cosine rerank of the bounded shortlist fetching
    * floats from the probed cells of the lists. Self-panel when
    * `queries` is empty (gate mode); external batches keep
    * self-matches (the [[ivfScore]] namespace rule). */
  def annIvfPqServe(spark: SparkSession, path: String, nprobe: Int = 10,
                    shortlist: Int = 128, k: Int = 5, nQueries: Int = 50,
                    queries: Option[DataFrame] = None,
                    selfPanel: Boolean = false): DataFrame =
    annIvfPqServeOn(pqCtx(spark, path), nprobe, shortlist, k, nQueries,
      queries, selfPanel)

  /** [[IvfCtx]] extended with the sidecar's read-once artifacts: the
    * codebooks (m·kpq metadata rows read on the driver and served back
    * as a local relation; the m/dsub geometry and the OPQ rotation
    * extracted once from them) and the live-codes PLAN (centroid stamp
    * + pq commit log read once at context build). The adaptive ADC
    * loop shares one context across its width rounds. */
  private[graft] final case class PqCtx(ivf: IvfCtx, books: DataFrame,
                                        m: Int, dsub: Int,
                                        rotation: Option[Array[Float]],
                                        codes: DataFrame)

  private[graft] def pqCtx(spark: SparkSession, path: String): PqCtx = {
    import scala.jdk.CollectionConverters._
    val rows = IndexLayout.Pq.local(spark, path, "pq/books")
    val bk = spark.createDataFrame(rows.asJava, IndexLayout.Pq.dirs("pq/books"))
    val meta = rows.head
    PqCtx(ivfCtx(spark, path), bk.select(col("sub"), col("code"), col("cvec"), col("chalf")),
      meta.getAs[Int]("m"), meta.getAs[Int]("dsub"),
      Option(meta.getAs[scala.collection.Seq[Float]]("rot")).map(_.toArray),
      pqLiveCodes(spark, path))
  }

  private[graft] def annIvfPqServeOn(ctx: PqCtx, nprobe: Int, shortlist: Int,
                                     k: Int, nQueries: Int,
                                     queries: Option[DataFrame],
                                     selfPanel: Boolean): DataFrame = {
    val spark = ctx.books.sparkSession
    import spark.implicits._
    val (m, dsub, books) = (ctx.m, ctx.dsub, ctx.books)
    val lists = ctx.ivf.lists
      .select($"cell", $"neighbor_id", $"vc", $"nc")
    val panel0 = queries.map(q => q
        .select($"vec_id", $"embedding".cast("array<float>").as("embedding"))
        .withColumn("norm", sqrt(dotF($"embedding", $"embedding"))))
      .getOrElse(lists.filter($"neighbor_id" < nQueries)
        .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm")))
    // routed on the driver, qcdot (q·c(cell)) included
    val Routed(panel, routed, probedCells) = ivfRouteLocal(ctx.ivf.centroids, panel0,
      nprobe, qcdot = true)
    // an OPQ sidecar builds each query's LUT from the ROTATED query
    // (q·r = (qR)·(rR)); qcdot and the exact rerank stay unrotated
    val lutPanel = ctx.rotation.fold(panel.select($"vec_id", $"embedding"))(r =>
      panel.select($"vec_id", rotateF($"embedding", r, m * dsub).as("embedding")))
    val probes = routed.join(pqLut(lutPanel, books, m, dsub), Seq("query_id"))
    val codes = ctx.codes.filter($"cell".isin(probedCells: _*))
    // selfPanel marks an EXPLICIT query frame as the index's own
    // members (the adaptive loop re-serves a shrinking self-panel):
    // same namespace rule as gate mode
    val excludeSelf = queries.isEmpty || selfPanel
    val wS = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"neighbor_id")
    val short = broadcast(probes).join(codes, Seq("cell"))
      .filter(if (excludeSelf) $"query_id" =!= $"neighbor_id" else lit(true))
      .withColumn("adc", $"qcdot" + expr(
        "aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c + 1)), 0D, (a, x) -> a + x)"))
      .withColumn("qcos", when($"nc" > 0d, $"adc" / ($"nq" * $"nc")).otherwise(lit(-2d)))
      .withColumn("srank", row_number().over(wS))
      .filter($"srank" <= shortlist)
      .select($"query_id", $"neighbor_id", $"cell", $"vq", $"nq")
    val wK = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(short)
      .join(lists.filter($"cell".isin(probedCells: _*))
        .select($"neighbor_id", $"vc", $"nc"), Seq("neighbor_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wK))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine")
  }

  /** C7g-serve `ann_ivf_pq_serve` — the sidecar's full lifecycle under
    * the gate, mirroring [[annIvfAppendServe]]: 70% prefix build +
    * [[pqAttach]] (books train on prefix residuals — the honest
    * production state) → 30% [[ivfAppend]] → [[pqRefresh]] (encodes
    * ONLY the appended delta under frozen books) → ADC serve of the
    * full panel. check.py grades recall@5 vs brute force over the
    * whole corpus — appended vectors are only findable if the refresh
    * actually coded them into the right cells. Rows-only (centroid +
    * codebook geometry). */
  def annIvfPqAppendServe(spark: SparkSession, dir: String, nlist: Int = 16,
                          nprobe: Int = 10, m: Int = 16, kpq: Int = 32,
                          shortlist: Int = 128, k: Int = 5,
                          nQueries: Int = 50, opqIters: Int = 0): DataFrame = {
    import spark.implicits._
    prefixIvfDrill(spark, dir, "graft_ivf_pq", nlist) { (tmp, all, cut) =>
      pqAttach(spark, tmp, m, kpq, opqIters)
      ivfAppend(spark, tmp, all.filter($"vec_id" > cut))
      pqRefresh(spark, tmp)
      annIvfPqServe(spark, tmp, nprobe = nprobe, shortlist = shortlist,
        k = k, nQueries = nQueries)
    }
  }

  /** C7i-serve `ann_ivf_opq_serve` — [[annIvfPqAppendServe]]'s exact
    * lifecycle with the OPQ sidecar: the rotation learns on the 70%
    * prefix's residuals at attach, PERSISTS next to the books
    * (dim² floats + the iteration budget on every books row), the 30%
    * append refreshes its delta under the frozen books AND frozen
    * rotation, and the ADC serve rebuilds each query's LUT from the
    * rotated query it reads back from disk. Rows-only (rotation +
    * codebook geometry); check.py grades recall@5 vs brute force at
    * floor 0.8 — appended vectors are only findable if the refresh
    * coded them in the persisted rotated space. */
  def annIvfOpqServe(spark: SparkSession, dir: String, nlist: Int = 16,
                     nprobe: Int = 10, m: Int = 16, kpq: Int = 32,
                     shortlist: Int = 128, k: Int = 5,
                     nQueries: Int = 50): DataFrame =
    annIvfPqAppendServe(spark, dir, nlist, nprobe, m, kpq, shortlist, k,
      nQueries, opqIters = 4)

  /** ADAPTIVE-nprobe over the persisted ADC sidecar: C7k's
    * stabilized-shortlist termination ([[adaptiveProbeLoop]]) applied
    * to [[annIvfPqServe]], which otherwise spends a fixed nprobe=10 on
    * every query. Each round re-serves only the still-unsettled
    * queries at double the width — the ADC scan stays statically
    * pruned to the routed cells' code partitions, so an early-settled
    * query never pays the wide read. Works unchanged over an OPQ
    * sidecar (the per-width serve reads the persisted rotation). */
  def annIvfPqAdaptive(spark: SparkSession, path: String, k: Int = 5,
                       nQueries: Int = 50, minProbe: Int = 2,
                       shortlist: Int = 128): DataFrame = {
    import spark.implicits._
    // read-once serve context: the probe loop's per-width serves share
    // one centroid/books/commit-metadata read instead of re-running
    // those driver jobs every round (guide §2.6)
    val ctx = pqCtx(spark, path)
    val nlist = ctx.ivf.centroids.length
    val panel = ctx.ivf.lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    adaptiveProbeLoop(panel, nlist, minProbe, (q, w) =>
      annIvfPqServeOn(ctx, nprobe = w, shortlist = shortlist, k = k,
        nQueries = nQueries, queries = Some(q), selfPanel = true))
  }

  /** ADAPTIVE-nprobe over a persisted PLAIN index: C7k's
    * stabilized-shortlist loop on the [[annIvfServe]] read path.
    * Every per-width serve goes through the committed+live view
    * (torn appends invisible, tombstones filtered), so deletes and
    * compaction hold for the adaptive loops exactly as for the
    * fixed-width serves — RecallSpec pins zero-deleted-served and
    * the recall floor over a build → append → delete → compact
    * lifecycle. */
  private[graft] def annIvfAdaptiveServe(spark: SparkSession, path: String,
                                         k: Int = 5, nQueries: Int = 50,
                                         minProbe: Int = 2,
                                         shortlist: Int = 32): DataFrame = {
    import spark.implicits._
    // read-once serve context shared by every width round (guide §2.6)
    val ctx = ivfCtx(spark, path)
    val nlist = ctx.centroids.length
    val panel = ctx.lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    adaptiveProbeLoop(panel, nlist, minProbe, (q, w) =>
      annIvfServeOn(ctx, nprobe = w, k = k, nQueries = nQueries,
        queries = Some(q), shortlist = Some(shortlist), selfPanel = true))
  }

  /** C7l `ann_ivf_pq_adaptive` — the adaptive ADC serve under the
    * gate: full-corpus [[ivfWriteFrom]] + [[pqAttach]] in a scratch
    * dir, then [[annIvfPqAdaptive]]'s self-panel. Rows-only (centroid
    * + codebook geometry); check.py grades recall@5 vs brute force at
    * the two-stage floor 0.8; the spec pins settled-query parity with
    * the fixed-width serve, recall ≥ the fixed-minProbe baseline, and
    * avg probes < the fixed nprobe=10 the non-adaptive serves spend. */
  def annIvfPqAdaptiveGate(spark: SparkSession, dir: String, nlist: Int = 16,
                           m: Int = 16, kpq: Int = 32, k: Int = 5,
                           nQueries: Int = 50, minProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val all = Tables.embeddings(spark, dir)
    if (all.agg(max($"vec_id")).head().isNullAt(0))
      return Seq.empty[(Long, Long, Int, Int, Double, Int)]
        .toDF("query_id", "neighbor_id", "cell", "rank_nn", "cosine",
          "probes_used")
    graft.sources.Lake.withScratchIndex(spark, "graft_ivf_pqad") { tmp =>
      // the full-corpus build computation is the ivfIndex memo's —
      // share it (the prefixIvfWrite precedent: one Lloyd pass per
      // registry run; the gate still writes and mutates its own
      // on-disk copy)
      ivfWrite(spark, dir, tmp, nlist)
      pqAttach(spark, tmp, m, kpq)
      annIvfPqAdaptive(spark, tmp, k, nQueries, minProbe)
    }
  }

  // ──────── C7i: OPQ — optimized product quantization (learned rotation) ────────

  /** OPQ-NP training (Ge/He/Ke/Sun, "Optimized Product Quantization",
    * CVPR 2013, non-parametric alternation), driver-side over a
    * BOUNDED sample — the IVF-centroid-seed posture: the learned
    * artifacts are O(dim² + m·kpq·dsub) metadata, never corpus-sized.
    * Iterate: rotate the sample (x̂ = xR, row-vector convention) →
    * train per-subspace codebooks on x̂ (deterministic seeds = first
    * kpq subvectors, `lloyd` steps, L2 assign, ties to the lowest
    * code; a drained seed keeps its codeword, so codes stay DENSE
    * 0..cnt−1) → reconstruct x̃ from the codes → update R by the
    * orthogonal Procrustes solution min‖xR − x̃‖ = UVᵀ from
    * svd(xᵀx̃) (breeze, ships with Spark) — then fit final books
    * under the final rotation. Rotation invariance of the dot makes
    * serving exact: q·r = (qR)·(rR), so ADC runs in the rotated
    * space with no correction term.
    *
    * Returns (R row-major flat, books[sub][code][dsub], final sample
    * MSE ‖x̂ − x̃‖²/n — the quantization-error measure the spec
    * compares against the identity-rotation baseline `iters = 0`,
    * which is plain PQ). */
  private[graft] def opqTrain(sample: Array[Array[Float]], m: Int, dsub: Int,
                              kpq: Int, iters: Int = 4, lloyd: Int = 8)
      : (Array[Float], Array[Array[Array[Float]]], Double) = {
    import breeze.linalg.{svd, DenseMatrix}
    val n = sample.length
    val d = m * dsub
    require(n > 0, "opqTrain: empty sample")
    val xm = DenseMatrix.tabulate(n, d)((i, j) => sample(i)(j).toDouble)
    def nearest(v: Array[Double], cents: Array[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var s = 0.0; var t = 0
        while (t < dsub) { val df = v(t) - cents(c)(t); s += df * df; t += 1 }
        if (s < bd) { bd = s; best = c } // strict <: ties keep lowest code
        c += 1
      }
      best
    }
    def subRows(xr: DenseMatrix[Double], sub: Int): Array[Array[Double]] =
      Array.tabulate(n)(i => Array.tabulate(dsub)(t => xr(i, sub * dsub + t)))
    // the m subspaces train and reconstruct INDEPENDENTLY — run them on
    // the common pool (r17 opt: this driver-side trainer was the
    // single-threaded core of the OPQ attach phase; each sub writes
    // only its own output slot / its own disjoint xt columns, so the
    // result is bit-identical to the sequential loop)
    def parSubs(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, m).parallel().forEach(sub => body(sub))
    def trainBooks(xr: DenseMatrix[Double]): Array[Array[Array[Double]]] = {
      val out = new Array[Array[Array[Double]]](m)
      parSubs { sub =>
        val xs = subRows(xr, sub)
        var cents = Array.tabulate(math.min(kpq, n))(c => xs(c).clone())
        for (_ <- 0 until lloyd) {
          val sums = Array.fill(cents.length, dsub)(0.0)
          val cnts = Array.fill(cents.length)(0)
          var i = 0
          while (i < n) {
            val a = nearest(xs(i), cents)
            var t = 0; while (t < dsub) { sums(a)(t) += xs(i)(t); t += 1 }
            cnts(a) += 1; i += 1
          }
          cents = Array.tabulate(cents.length)(c =>
            if (cnts(c) == 0) cents(c) else sums(c).map(_ / cnts(c)))
        }
        out(sub) = cents
      }
      out
    }
    def reconstruct(xr: DenseMatrix[Double],
                    books: Array[Array[Array[Double]]]): DenseMatrix[Double] = {
      val xt = DenseMatrix.zeros[Double](n, d)
      parSubs { sub =>
        val xs = subRows(xr, sub)
        var i = 0
        while (i < n) {
          val cw = books(sub)(nearest(xs(i), books(sub)))
          var t = 0; while (t < dsub) { xt(i, sub * dsub + t) = cw(t); t += 1 }
          i += 1
        }
      }
      xt
    }
    var r = DenseMatrix.eye[Double](d)
    for (_ <- 0 until iters) {
      val xr = xm * r
      val xt = reconstruct(xr, trainBooks(xr))
      val s = svd(xm.t * xt)
      r = s.U * s.Vt
    }
    val xrF = xm * r
    val books = trainBooks(xrF)
    val xtF = reconstruct(xrF, books)
    var mse = 0.0
    var i = 0
    while (i < n) {
      var j = 0
      while (j < d) { val df = xrF(i, j) - xtF(i, j); mse += df * df; j += 1 }
      i += 1
    }
    val rFlat = Array.tabulate(d * d)(p => r(p / d, p % d).toFloat)
    (rFlat, books.map(_.map(_.map(_.toFloat))), mse / n)
  }

  /** Memoized OPQ artifacts per (dir, nlist, m, kpq): the learned
    * rotation, the rotated-residual sub-codebooks, and the coded
    * index rows. Same shape as [[pqIndex]] with one extra per-vector
    * flat dim² rotation kernel ([[rotateF]]) in the one-time encode
    * pass — embarrassingly parallel scan work at any scale. */
  private[graft] def opqIndex(spark: SparkSession, dir: String, nlist: Int,
                              m: Int, dsub: Int, kpq: Int)
      : (Array[Float], DataFrame, DataFrame) =
    Artifacts.value(spark, Artifacts.OpqIndex, dir, nlist, m, dsub, kpq) {
      import spark.implicits._
      val dim = m * dsub
      val (centroids, lists) = ivfIndex(spark, dir, nlist)
      val resid = lists
        .join(broadcast(centroids.select($"cid".as("cell"), $"cvec")), Seq("cell"))
        .select($"cell", $"neighbor_id", $"nc",
          expr("zip_with(vc, cvec, (a, b) -> cast(a - b as float))").as("rvec"))
        .localCheckpoint()
      // bounded deterministic sample in hash order (md5 of id — the F4/F9
      // posture): id order correlates with crawl time/source on real
      // corpora, which would bias the learned rotation toward one slice
      val sample = resid.orderBy(md5(col("neighbor_id").cast("string")), $"neighbor_id")
        .limit(4096)
        .select($"rvec").collect().map(_.getSeq[Float](0).toArray)
      val (rMat, books3, _) = opqTrain(sample, m, dsub, kpq)
      val books = withChalf(books3.zipWithIndex.flatMap { case (cws, sub) =>
          cws.zipWithIndex.map { case (cw, code) => (sub, code, cw.toSeq) }
        }.toSeq.toDF("sub", "code", "cvec")
        .withColumn("cvec", $"cvec".cast("array<float>")))
        .localCheckpoint()
      val rotated = resid.select($"cell", $"neighbor_id", $"nc",
        rotateF($"rvec", rMat, dim).as("rrot"))
      val coded = rotated.select($"cell", $"neighbor_id", $"nc")
        .join(pqEncode(rotated.select($"neighbor_id".as("vec_id"),
            $"rrot".as("embedding")), books, m, dsub)
          .withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .localCheckpoint()
      (rMat, books, coded)
    }

  /** C7i `ann_ivf_opq` — [[annIvfPq]] with an OPQ-learned rotation:
    * residuals rotate into the space where independent per-subspace
    * quantizers fit them best (the alternating minimization above),
    * codes quantize the ROTATED residuals, and the ADC identity
    * q·r = (qR)·(rR) means serving only rotates each query once
    * (O(panel · dim²) — broadcast-scale) and scores the same m-byte
    * gather-add as C7g; the exact-cosine rerank of the bounded
    * shortlist fetches original floats, unrotated. The fourth point
    * on the family's compression curve: same 16× payload as PQ,
    * strictly lower quantization error by construction. Rows-only
    * (codebook + rotation geometry); check.py grades recall@5 vs
    * DuckDB brute force at floor 0.8; RecallSpec pins orthogonality,
    * the MSE-vs-plain-PQ win, and end-to-end recall. */
  def annIvfOpq(spark: SparkSession, dir: String, nlist: Int = 16,
                nprobe: Int = 10, m: Int = 16, kpq: Int = 32,
                shortlist: Int = 128, k: Int = 5, nQueries: Int = 50,
                dim: Int = 64): DataFrame = {
    import spark.implicits._
    val dsub = dim / m
    if (Tables.embeddings(spark, dir).agg(max($"vec_id")).head().isNullAt(0))
      return Seq.empty[(Long, Long, Int, Int, Double)]
        .toDF("query_id", "neighbor_id", "cell", "rank_nn", "cosine")
    val (centroids, lists) = ivfIndex(spark, dir, nlist)
    val (rMat, books, coded) = opqIndex(spark, dir, nlist, m, dsub, kpq)
    val queries = lists.filter($"neighbor_id" < nQueries)
      .select($"neighbor_id".as("vec_id"), $"vc".as("embedding"), $"nc".as("norm"))
    val probes = ivfRoute(centroids, queries, nprobe)
      .join(broadcast(centroids.select($"cid".as("cell"), $"cvec")), Seq("cell"))
      .withColumn("qcdot", dotF($"vq", $"cvec"))
      .drop("cvec")
      .join(pqLut(queries.select($"vec_id",
          rotateF($"embedding", rMat, dim).as("embedding")), books, m, dsub),
        Seq("query_id"))
    val wS = Window.partitionBy($"query_id").orderBy($"qcos".desc, $"neighbor_id")
    val short = broadcast(probes).join(coded, Seq("cell"))
      .filter($"query_id" =!= $"neighbor_id")
      .withColumn("adc", $"qcdot" + expr(
        "aggregate(zip_with(codes, lut, (c, r) -> element_at(r, c + 1)), 0D, (a, x) -> a + x)"))
      .withColumn("qcos", when($"nc" > 0d, $"adc" / ($"nq" * $"nc")).otherwise(lit(-2d)))
      .withColumn("srank", row_number().over(wS))
      .filter($"srank" <= shortlist)
      .select($"query_id", $"neighbor_id", $"cell", $"vq", $"nq")
    val wK = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"neighbor_id")
    broadcast(short).join(lists.select($"neighbor_id", $"vc", $"nc"), Seq("neighbor_id"))
      .withColumn("cosine", dot("vq", "vc") / ($"nq" * $"nc"))
      .withColumn("rank_nn", row_number().over(wK))
      .filter($"rank_nn" <= k)
      .select($"query_id", $"neighbor_id", $"cell", $"rank_nn", $"cosine")
  }
}
