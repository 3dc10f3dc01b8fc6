package graft.operators

import graft.Tables
import graft.sources.IndexLayout
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2 D1-D3): media payloads as
  * opaque `binary` columns with typed metadata, content-hash dedup, and
  * a REAL image decode path — D2 assembles valid 24-bit BMP files in
  * the plan and parses them back (header fields + per-channel pixel
  * statistics) two independent ways: a codegen'd columnar decode for
  * the gate and a batched typed decoder for library composition. No
  * external media libs needed: BMP is an uncompressed format a byte
  * decoder fully covers; codec formats (JPEG/MP3/H.264) would slot
  * into the same `mapPartitions` batch shape via their libraries.
  */
object Multimodal {

  /** The multimodal table: payload bytes + typed metadata. Synthesized
    * deterministically from `documents` (payload = utf-8 bytes of text;
    * kind/width/height derived from the id) — at production scale this
    * is a parquet/lance table of real media bytes with identical shape. */
  def mmTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select(
      $"doc_id",
      $"text".cast("binary").as("payload"),
      when($"doc_id" % 3 === 0, "image")
        .when($"doc_id" % 3 === 1, "audio")
        .otherwise("video").as("kind"),
      (lit(16) + $"doc_id" % 64).cast("int").as("width"),
      (lit(16) + $"doc_id" % 48).cast("int").as("height"))
  }

  /** D1 `mm_metadata` — per-kind byte statistics over the payload
    * column. Byte length is metadata-only compute (at scale, with
    * parquet binary columns, the scan still reads the bytes — real
    * pipelines store `n_bytes` as an explicit stat column to let the
    * optimizer skip payload IO; modeled here by deriving then
    * aggregating). One partial-agg shuffle on 3 keys. */
  def mmMetadata(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mmTable(spark, dir)
      .select($"kind", length($"payload").as("n_bytes"), $"width", $"height")
      .groupBy($"kind")
      .agg(
        count(lit(1)).as("n_items"),
        sum($"n_bytes".cast("long")).as("sum_bytes"),
        max($"n_bytes").as("max_bytes"),
        avg($"width".cast("double")).as("avg_width"))
  }

  val mmMetadataSql: String =
    """WITH mm AS (
      |  SELECT doc_id, encode(text) AS payload,
      |         CASE WHEN doc_id % 3 = 0 THEN 'image'
      |              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
      |         CAST(16 + doc_id % 64 AS INT) AS width,
      |         CAST(16 + doc_id % 48 AS INT) AS height
      |  FROM documents)
      |SELECT kind, COUNT(*) AS n_items,
      |       CAST(SUM(octet_length(payload)) AS BIGINT) AS sum_bytes,
      |       CAST(MAX(octet_length(payload)) AS INT) AS max_bytes,
      |       SUM(CAST(width AS DOUBLE)) / COUNT(*) AS avg_width
      |FROM mm GROUP BY kind""".stripMargin

  /** The image table for D2: REAL BMP files (24-bit uncompressed,
    * BITMAPINFOHEADER) assembled byte-for-byte in the plan from each
    * image-kind document's id — 'BM' magic, little-endian size/offset
    * fields, 40-byte DIB header, BGR pixel rows padded to the 4-byte
    * row stride the format requires (widths 3..10, so the corpus
    * plants BOTH padded and stride-aligned rows; padding bytes are
    * 0xAB, not zero, so a decoder that misstrides pulls them into a
    * channel sum and diverges at the gate). Both row ORIENTATIONS are
    * planted too: odd ids store negative biHeight (top-down, image
    * rows in stored order), even ids the standard bottom-up layout
    * (stored row s carries IMAGE row h−1−s). IMAGE pixel (r, c)
    * channel ch carries (doc_id·7 + r·31 + c·13 + ch·101) mod 256 in
    * either layout, so every decoded statistic has one closed form
    * the DuckDB oracle recomputes independently of orientation — a
    * decoder that samples stored instead of image rows diverges on
    * every even-id resize. At production scale this table is a
    * parquet/lance directory of scraped media; the decode path below
    * is identical. */
  /** `noisy = true` emits the PERCEPTUAL-TWIN variant of every image:
    * +3 (clamped at 255) on every even-parity pixel (image row + col
    * even) of every channel — a small, deterministic image-space
    * perturbation that leaves the aHash grid ordering nearly intact.
    * The noise is applied in IMAGE coordinates before row storage, so
    * both BMP orientations perturb the same pixels. */
  private def bmpTableRaw(spark: SparkSession, dir: String,
                          noisy: Boolean = false): DataFrame = {
    import spark.implicits._
    // little-endian hex of the low `bytes` bytes of a long column
    def le(x: Column, bytes: Int): Column =
      concat((0 until bytes).map(k =>
        lpad(hex(shiftright(x, 8 * k).bitwiseAND(lit(255L))), 2, "0")): _*)
    Tables.documents(spark, dir)
      .filter($"doc_id" % 3 === 0) // the mm "image" kind
      .select($"doc_id",
        (lit(3) + $"doc_id" % 8).cast("int").as("w"),
        (lit(2) + $"doc_id" % 6).cast("int").as("h"),
        ($"doc_id" % 2 === 1).as("td")) // top-down: negative biHeight
      .withColumn("stride", expr("cast(((w * 3 + 3) div 4) * 4 as int)"))
      // biHeight field: two's-complement −h for the top-down layout
      .withColumn("hfield",
        when($"td", lit(4294967296L) - $"h").otherwise($"h".cast("long")))
      .withColumn("header_hex", concat(
        lit("424D"), le(lit(54L) + ($"stride" * $"h").cast("long"), 4), lit("00000000"),
        le(lit(54L), 4), le(lit(40L), 4), le($"w".cast("long"), 4), le($"hfield", 4),
        lit("0100"), lit("1800"), lit("00000000"), le(($"stride" * $"h").cast("long"), 4),
        le(lit(2835L), 4), le(lit(2835L), 4), lit("00000000"), lit("00000000")))
      // stored row s holds image row s (top-down) or h−1−s (bottom-up)
      .withColumn("pixel_hex", {
        val rImg = "(if(td, i div stride, h - 1 - i div stride))"
        val col = "((i % stride) div 3)"
        val v = s"(doc_id * 7 + $rImg * 31 + $col * 13 + ((i % stride) % 3) * 101) % 256"
        val value = if (noisy) s"least($v + 3 * (($rImg + $col + 1) % 2), 255)" else v
        expr(
          s"""concat_ws('', transform(sequence(0, h * stride - 1),
             |  i -> lpad(hex(if(i % stride < w * 3, $value, 171)), 2, '0')))""".stripMargin)
      })
      .select($"doc_id", unhex(concat($"header_hex", $"pixel_hex")).as("payload"))
  }

  /** [[bmpTableRaw]], materialized once per (session, dir): in
    * production these bytes sit in parquet/lance and every header
    * predicate reads them for free; here the payload is a per-pixel
    * hex assembly in the plan, and predicate pushdown would substitute
    * that whole assembly into each scan-side filter (decoder
    * quarantine + magic check), re-encoding every image once per
    * predicate. Memoized because three consumers (both D2 decode paths
    * and D4) would otherwise each run their own materialization job;
    * the checkpointed blocks are a few hundred KB and die with the
    * session. */
  private val bmpCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, Boolean), DataFrame]
  def bmpTable(spark: SparkSession, dir: String): DataFrame =
    bmpCache.getOrElseUpdate((spark, dir, false),
      bmpTableRaw(spark, dir).localCheckpoint())

  /** The perceptual-twin corpus member of D6: every image re-encoded
    * with the small even-parity perturbation, under `doc_id +
    * BigOffset` — the planted noisy near-duplicates that a perceptual
    * hash must still pair with their originals (an EXACT content hash
    * like D3's provably cannot: every twin payload differs). */
  def bmpTwinTable(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    bmpCache.getOrElseUpdate((spark, dir, true),
      bmpTableRaw(spark, dir, noisy = true)
        .select(($"doc_id" + NearDup.BigOffset).as("doc_id"), $"payload")
        .localCheckpoint())
  }

  /** Little-endian int decoded from `bytes` bytes of the binary
    * `payload` column at 1-based offset `off` — shared by every
    * columnar header decoder so the byte-order/offset convention
    * lives in one place. */
  private def leInt(off: Int, bytes: Int): Column = {
    val h = hex(substring(col("payload"), off, bytes))
    val u = conv(concat((bytes - 1 to 0 by -1).map(k => substring(h, 2 * k + 1, 2)): _*),
      16, 10).cast("long")
    // reinterpret the unsigned conv() value as SIGNED 32-bit: BMP
    // height is signed (negative = top-down), and a direct int cast of
    // 0xFFFFFFFE under ANSI throws instead of letting the quarantine
    // filter the row
    ((u + lit(2147483648L)) % lit(4294967296L) - lit(2147483648L)).cast("int")
  }

  /** One encoded media item (input to the typed decode stage). */
  final case class MmItem(doc_id: Long, payload: Array[Byte])
  /** Decoded header + per-channel statistics of one image. */
  final case class MmFeatures(doc_id: Long, width_px: Int, height_px: Int,
                              bpp: Int, n_bytes: Int,
                              mean_b: Double, mean_g: Double, mean_r: Double)

  /** Typed BMP decoder: parses the binary header (magic, little-endian
    * width/height/bpp/data-offset) and folds the BGR pixel block into
    * per-channel means. Batched `mapPartitions` is the Scala analogue
    * of arrow-batched decode UDFs — real decoders amortize codec init
    * per batch; one task per partition, no shuffle. Items that fail the
    * magic check are dropped (corrupt-input quarantine). */
  private def decodeBmp(batch: Seq[MmItem]): Seq[MmFeatures] =
    batch.flatMap { it =>
      val p = it.payload
      def u8(i: Int): Int = p(i) & 0xff
      def le32(off: Int): Int =
        u8(off) | (u8(off + 1) << 8) | (u8(off + 2) << 16) | (u8(off + 3) << 24)
      if (p.length < 54 || p(0) != 'B'.toByte || p(1) != 'M'.toByte) None
      else {
        val w = le32(18); val hRaw = le32(22)
        val bpp = u8(28) | (u8(29) << 8)
        val off = le32(10)
        // biHeight is SIGNED: negative = top-down row order (legal for
        // uncompressed BMPs); the lattice height is |h|. Whole-image
        // channel means are row-order independent, so both
        // orientations share this fold. BMP rows are 4-byte aligned:
        // row stride = ceil(w*3/4)*4, and the fold walks w*3 pixel
        // bytes per row then skips the padding. Quarantine
        // (decode-silently-wrong is never an option): only 24bpp
        // images whose declared |h| padded rows actually fit inside
        // the payload. (Long arithmetic: crafted headers must
        // quarantine, not overflow; |Int.MinValue| stays negative and
        // quarantines.)
        val h = math.abs(hRaw)
        val stride = ((w * 3L + 3) / 4) * 4
        // division form: `p.length < off + stride * h` would OVERFLOW
        // Long for w ≈ h ≈ 2³¹ crafted headers and wrap past the check
        if (bpp != 24 || w <= 0 || h <= 0 ||
            off < 54 || off > p.length || h > (p.length - off) / stride) None
        else {
          // decode exactly the declared lattice (padding + trailing
          // bytes ignored)
          val npix = w.toLong * h
          val sums = new Array[Long](3)
          var r = 0
          while (r < h) {
            var i = off + r * stride.toInt
            val end = i + 3 * w
            while (i < end) {
              sums(0) += u8(i); sums(1) += u8(i + 1); sums(2) += u8(i + 2)
              i += 3
            }
            r += 1
          }
          Some(MmFeatures(it.doc_id, w, h, bpp, p.length,
            sums(0).toDouble / npix, sums(1).toDouble / npix, sums(2).toDouble / npix))
        }
      }
    }

  /** D2's typed decode pipeline — what downstream consumers compose
    * with; the spec pins it equal to the codegen'd SQL decode of
    * [[mmFeatureExtract]]. */
  def mmFeatures(spark: SparkSession, dir: String, batchSize: Int = 64): Dataset[MmFeatures] = {
    import spark.implicits._
    mmFeaturesTyped(bmpTable(spark, dir).select($"doc_id", $"payload").as[MmItem], batchSize)
  }

  /** Item-based core of the typed decode path — lets the quarantine be
    * pinned on crafted payloads, not just the generator corpus. */
  def mmFeaturesTyped(items: Dataset[MmItem], batchSize: Int = 64): Dataset[MmFeatures] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      it.grouped(batchSize).flatMap(decodeBmp)
    }
  }

  /** D3 `mm_dedup` — content-hash dedup of binary payloads: the
    * image/audio dedup primitive (identical bytes → identical md5 →
    * one keeper). Corpus = mm table ∪ an exact re-ingest (ids + 1e6,
    * same payloads) so every payload provably collapses to one group.
    * One hash-partitioned groupBy on the 128-bit digest — no payload
    * bytes ever shuffle (only the hash and the id), which is the whole
    * point at media scale. */
  def mmDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val mm = mmTable(spark, dir).select($"doc_id", $"payload")
    val corpus = mm.unionAll(
      mm.select(($"doc_id" + NearDup.BigOffset).as("doc_id"), $"payload"))
    corpus
      .select($"doc_id", md5($"payload").as("payload_md5"))
      .groupBy($"payload_md5")
      .agg(count(lit(1)).as("n_copies"), min($"doc_id").as("keeper_id"))
  }

  /** Oracle hashes the VARCHAR text — the same utf-8 bytes the Spark
    * side hashes as binary, so the digests agree. */
  val mmDedupSql: String =
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + ${NearDup.BigOffset}, text FROM documents)
       |SELECT md5(text) AS payload_md5, COUNT(*) AS n_copies,
       |       MIN(doc_id) AS keeper_id
       |FROM corpus GROUP BY 1""".stripMargin

  /** D2 `mm_feature_extract` — BMP header + pixel-statistics decode as
    * a pure columnar plan: the header ints come out of little-endian
    * hex slices (`hex`/`conv` — codegen'd string ops), and the channel
    * sums fold over the BINARY payload directly — `substring` on a
    * binary column is fixed-width byte slicing (O(1) per access, unlike
    * a decoded UTF8 string whose per-char substring is a linear scan
    * that would make the fold O(npix²) per image). No UDF, no
    * interpreter, scan-parallel at any scale. Hash-gated: the oracle
    * recomputes every decoded value from the image generator's closed
    * form, so a decoder that misreads any header field or pixel stride
    * mismatches immediately. */
  def mmFeatureExtract(spark: SparkSession, dir: String): DataFrame =
    mmFeatureExtractFrame(bmpTable(spark, dir))

  /** Shared columnar BMP header decode + corrupt-input quarantine of
    * D2/D6 (bmp = (doc_id, payload)): parses magic/width/height/bpp/
    * data-offset out of little-endian byte slices and keeps only rows
    * whose declared pixel lattice provably fits the payload. Emits the
    * input columns plus width_px, h_raw (SIGNED — negative = top-down),
    * height_px, bpp, data_off, n_bytes, stride. */
  private[graft] def decodedHeader(bmp: DataFrame): DataFrame = {
    import bmp.sparkSession.implicits._
    bmp
      .filter(hex(substring($"payload", 1, 2)) === "424D") // magic
      .withColumn("width_px", leInt(19, 4))
      .withColumn("h_raw", leInt(23, 4)) // SIGNED: negative = top-down
      .withColumn("bpp", leInt(29, 2))
      .withColumn("data_off", leInt(11, 4))
      .withColumn("n_bytes", length($"payload"))
      // lattice height is |h| in either orientation; abs on the LONG
      // (an ANSI abs(Int.MinValue) would throw instead of letting the
      // quarantine drop the row).
      .withColumn("habs", abs($"h_raw".cast("long")))
      // same quarantine as the typed decodeBmp: only 24bpp images
      // whose declared |h| 4-byte-aligned rows actually fit inside the
      // payload decode — anything else (wrong depth, or a data offset
      // pointing past the bytes) would decode silently wrong, not
      // drop. Long arithmetic: crafted headers must quarantine, not
      // overflow.
      .withColumn("stride",
        expr("((cast(width_px as bigint) * 3 + 3) div 4) * 4"))
      // division form: `stride * habs` would overflow (ANSI: throw;
      // legacy: wrap past the check) for w ≈ h ≈ 2³¹ crafted headers —
      // a negative numerator (data_off past the payload) quarantines
      // via the <= comparison against a negative quotient. The divisor
      // is greatest(stride, 4): total even if Catalyst splits/reorders
      // the pushed-down conjuncts and evaluates it before width_px > 0
      // (a zero-width crafted header would otherwise throw
      // DIVIDE_BY_ZERO under ANSI instead of quarantining); for any
      // surviving row width_px ≥ 1 ⇒ stride ≥ 4, so the guard never
      // changes the decoded set
      .filter($"bpp" === 24 && $"width_px" > 0 && $"habs" > 0 &&
        $"data_off" >= 54 &&
        $"habs" <= expr("(cast(n_bytes as bigint) - data_off) div greatest(stride, 4L)"))
      // surviving rows have stride·|h| ≤ n_bytes < 2³¹ → int-safe
      .withColumn("height_px", $"habs".cast("int"))
      .drop("habs")
  }

  /** Frame-based core of D2's columnar path (bmp = (doc_id, payload))
    * — lets the quarantine be pinned on crafted payloads, not just the
    * generator corpus. Whole-image channel means are row-order
    * independent, so both BMP orientations share one fold. */
  def mmFeatureExtractFrame(bmp: DataFrame): DataFrame = {
    import bmp.sparkSession.implicits._
    decodedHeader(bmp)
      // decode exactly the declared lattice (padding + trailing bytes
      // ignored): pixel p = (p div w, p % w) reads its 3 bytes at
      // data_off + row·stride + col·3
      .withColumn("npix", $"width_px".cast("long") * $"height_px")
      // byte_at: graft's codegen'd bounds-checked byte read (registered
      // via GraftExtensions) — one array access per pixel byte, no
      // hex/conv string churn inside the fold
      .withColumn("means", expr(
        """transform(sequence(0, 2), ch ->
          |  round(aggregate(sequence(0, cast(npix as int) - 1),
          |                  0L, (acc, p) -> acc + cast(byte_at(payload,
          |                    data_off + (p div width_px) * cast(stride as int)
          |                    + (p % width_px) * 3 + ch) as bigint))
          |        / cast(npix as double), 6))""".stripMargin))
      .select($"doc_id", $"width_px", $"height_px", $"bpp", $"n_bytes",
        $"means".getItem(0).as("mean_b"), $"means".getItem(1).as("mean_g"),
        $"means".getItem(2).as("mean_r"))
  }

  /** D4 `mm_resize` — nearest-neighbor 2× downsample of the decoded
    * BMPs: output pixel (r, c) reads source pixel (2r, 2c), and the
    * per-channel means of the downsampled image are folded straight
    * off the binary payload at the computed source offsets — resize as
    * pure columnar byte arithmetic, no intermediate image ever
    * materialized (what a thumbnail/feature pass wants at scale: the
    * decode-transform-reduce pipeline fuses into the scan). Hash-gated:
    * the oracle recomputes the downsampled lattice means from the
    * generator's closed form, so a resize that samples the wrong
    * source pixel (stride/offset bug) diverges immediately. */
  def mmResize(spark: SparkSession, dir: String): DataFrame =
    mmResizeFrame(bmpTable(spark, dir))

  /** Frame-based core of D4 (bmp = (doc_id, payload)). */
  def mmResizeFrame(bmp: DataFrame): DataFrame = {
    import bmp.sparkSession.implicits._
    bmp
      .filter(hex(substring($"payload", 1, 2)) === "424D")
      .withColumn("w", leInt(19, 4))
      .withColumn("h_raw", leInt(23, 4)) // SIGNED: negative = top-down
      .withColumn("bpp", leInt(29, 2))
      .withColumn("data_off", leInt(11, 4))
      .withColumn("habs", abs($"h_raw".cast("long")))
      // same quarantine as the typed decodeBmp (magic alone is not
      // validity): 24bpp, declared |h| 4-byte-aligned rows inside the
      // payload — a non-generator BMP must drop, not resize with the
      // wrong stride or read past the pixel block
      .withColumn("stride", expr("((cast(w as bigint) * 3 + 3) div 4) * 4"))
      // division form — same overflow-proof check as the decode path
      .filter($"bpp" === 24 && $"w" > 0 && $"habs" > 0 &&
        $"data_off" >= 54 &&
        $"habs" <= expr("(cast(length(payload) as bigint) - data_off) div stride"))
      .withColumn("h", $"habs".cast("int")) // int-safe post-filter
      .withColumn("out_w", expr("cast(w div 2 as int)"))
      .withColumn("out_h", expr("cast(h div 2 as int)"))
      // a 2x downsample of a 1-pixel-wide/high image is empty, not a
      // zero-length fold (sequence(0,-1) would count DOWN)
      .filter($"out_w" > 0 && $"out_h" > 0)
      // source pixel = IMAGE (2·(p div out_w), 2·(p % out_w)); image
      // row rᵢ lives at stored row rᵢ when top-down (h_raw < 0) and at
      // h−1−rᵢ in the standard bottom-up layout — a resize that reads
      // stored rows directly would sample the bottom of a bottom-up
      // image and diverge from the closed-form oracle
      .withColumn("means", expr(
        """transform(sequence(0, 2), ch ->
          |  round(aggregate(sequence(0, out_w * out_h - 1), 0L,
          |    (acc, p) -> acc + cast(byte_at(payload,
          |      data_off + (if(h_raw < 0, (p div out_w) * 2,
          |                     h - 1 - (p div out_w) * 2)) * cast(stride as int)
          |      + (p % out_w) * 2 * 3 + ch) as bigint))
          |  / cast(out_w * out_h as double), 6))""".stripMargin))
      .select($"doc_id", $"out_w", $"out_h",
        $"means".getItem(0).as("mean_b"), $"means".getItem(1).as("mean_g"),
        $"means".getItem(2).as("mean_r"))
  }

  /** Oracle: means over the even-lattice source pixels of the
    * generator's closed form. */
  val mmResizeSql: String =
    """WITH img AS (
      |  SELECT doc_id,
      |         CAST(3 + doc_id % 8 AS INT) AS w,
      |         CAST(2 + doc_id % 6 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, h, w // 2 AS out_w, h // 2 AS out_h, t.p AS p
      |  FROM img, unnest(generate_series(0, (w // 2) * (h // 2) - 1)) AS t(p))
      |SELECT doc_id, CAST(out_w AS INT) AS out_w, CAST(out_h AS INT) AS out_h,
      |       round(SUM((doc_id * 7 + ((p // out_w) * 2) * 31 + ((p % out_w) * 2) * 13 + 0 * 101) % 256)
      |             / CAST(out_w * out_h AS DOUBLE), 6) AS mean_b,
      |       round(SUM((doc_id * 7 + ((p // out_w) * 2) * 31 + ((p % out_w) * 2) * 13 + 1 * 101) % 256)
      |             / CAST(out_w * out_h AS DOUBLE), 6) AS mean_g,
      |       round(SUM((doc_id * 7 + ((p // out_w) * 2) * 31 + ((p % out_w) * 2) * 13 + 2 * 101) % 256)
      |             / CAST(out_w * out_h AS DOUBLE), 6) AS mean_r
      |FROM px GROUP BY doc_id, out_w, out_h""".stripMargin

  /** D5 `mm_frame_sample` — fixed-size frame extraction + temporal
    * sampling over the video-kind payloads: the payload is treated as
    * `frameBytes`-sized frames (trailing partial frame dropped), every
    * `step`-th frame is kept, and each kept frame ships only its index
    * and content digest — the frame-sampling shape of a video pipeline,
    * where the sampled frames feed a decoder/embedder downstream and
    * the shuffle carries digests, never frame bytes. Per-row explode,
    * no shuffle. Hash-gated: the corpus is ASCII, so the oracle's
    * VARCHAR substring sees the identical bytes Spark's binary
    * substring does and the digests must agree exactly. */
  def mmFrameSample(spark: SparkSession, dir: String,
                    frameBytes: Int = 64, step: Int = 2): DataFrame = {
    import spark.implicits._
    mmTable(spark, dir)
      .filter($"kind" === "video")
      .withColumn("n_frames", expr(s"cast(length(payload) div $frameBytes as int)"))
      .filter($"n_frames" >= 1)
      .select($"doc_id", $"n_frames", $"payload",
        explode(expr(s"sequence(0, n_frames - 1, $step)")).as("frame_idx"))
      .select($"doc_id", $"n_frames", $"frame_idx".cast("int").as("frame_idx"),
        md5(expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
          .as("frame_md5"))
  }

  def mmFrameSampleSql(frameBytes: Int = 64, step: Int = 2): String =
    s"""WITH vid AS (
       |  SELECT doc_id, text, CAST(length(text) // $frameBytes AS INT) AS n_frames
       |  FROM documents WHERE doc_id % 3 = 2),
       |fr AS (
       |  SELECT doc_id, text, n_frames, t.f AS frame_idx
       |  FROM vid, unnest(generate_series(0, n_frames - 1, $step)) AS t(f)
       |  WHERE n_frames >= 1)
       |SELECT doc_id, n_frames, CAST(frame_idx AS INT) AS frame_idx,
       |       md5(substring(text, frame_idx * $frameBytes + 1, $frameBytes)) AS frame_md5
       |FROM fr""".stripMargin

  /** D6 `mm_phash` — perceptual image hash (aHash): the decoded image
    * is nearest-neighbor-resampled onto a fixed 8×8 grid, each cell's
    * integer gray value (B+G+R) is thresholded against the grid total
    * (64·cell > total — integer-only, engine-exact; no /64 mean), and
    * the 64 bits pack into 4 × 16-bit bands. Resolution-independent
    * (any w×h maps onto the same grid) and robust to small pixel
    * noise — the property D3's exact content hash provably lacks.
    * Pure scan-side compute on the payload bytes, no shuffle; 8 bytes
    * per image downstream, which is what makes perceptual dedup
    * band-joinable at media scale instead of pairwise. Hash-gated
    * against the generator's closed form like D2/D4. */
  def mmPhash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    phashFrame(bmpTable(spark, dir))
      .select($"doc_id", $"bands".getItem(0).as("b0"), $"bands".getItem(1).as("b1"),
        $"bands".getItem(2).as("b2"), $"bands".getItem(3).as("b3"))
  }

  /** aHash core of D6 (bmp = (doc_id, payload)) — decoded header →
    * 8×8 grid cells → threshold bits → 4 × 16-bit bands. Grid cell
    * k = (i, j) = (k div 8, k mod 8) samples source pixel
    * (⌊i·h/8⌋, ⌊j·w/8⌋); the STORED row is the image row (top-down)
    * or h−1−row (bottom-up), so both orientations hash identically.
    *
    * The cell array and its total are bound as LAMBDA VARIABLES
    * (`transform(array(x), v -> …)[0]` — evaluated once per row, O(1)
    * per reference) instead of chained columns: a column reference
    * inside a higher-order lambda re-evaluates its whole defining
    * expression per element after projection collapse, which nests
    * multiplicatively (bands → bits → cells ≈ 64 × 64 × cell-cost per
    * ROW) and turns any downstream filter over the hash into minutes
    * of interpreted eval — the same expression-inlining trap as F13's
    * BNLJ pushdown, one level down. */
  private[graft] def phashFrame(bmp: DataFrame): DataFrame = {
    import bmp.sparkSession.implicits._
    decodedHeader(bmp)
      .withColumn("td", $"h_raw" < 0)
      .withColumn("bands", expr(
        """transform(array(transform(sequence(0, 63), k ->
          |    aggregate(sequence(0, 2), 0L, (acc, ch) -> acc + byte_at(payload,
          |      data_off
          |      + (if(td, ((k div 8) * height_px) div 8,
          |            height_px - 1 - ((k div 8) * height_px) div 8)) * cast(stride as int)
          |      + (((k % 8) * width_px) div 8) * 3 + ch)))), cs ->
          |  transform(array(aggregate(cs, 0L, (x, y) -> x + y)), tot ->
          |    transform(sequence(0, 3), b -> cast(
          |      aggregate(sequence(0, 15), 0,
          |        (a, k) -> a + if(64 * cs[16 * b + k] > tot, 1, 0) * shiftleft(1, k))
          |      as int)))[0])[0]""".stripMargin))
      .select($"doc_id", $"bands")
  }

  /** D6b `mm_phash_dedup` — perceptual near-dup pairs: images ∪ their
    * planted noisy twins ([[bmpTwinTable]]) hash through [[phashFrame]],
    * band buckets (4 × 16-bit slices — any pair within hamming 3 MUST
    * collide on a band, pigeonhole) with C2's drop-bucket cap produce
    * candidates, and surviving pairs within `maxHamming` emit. Same
    * bucket-join scale shape as C2/C3: the shuffle carries (band, id,
    * 4 ints), never payload bytes, and is proportional to collisions. */
  def mmPhashDedup(spark: SparkSession, dir: String, maxHamming: Int = 6,
                   bucketCap: Int = 1000): DataFrame = {
    import spark.implicits._
    val corpus = bmpTable(spark, dir).select($"doc_id", $"payload")
      .unionAll(bmpTwinTable(spark, dir))
    val hashed = phashFrame(corpus).localCheckpoint()
    val bands = hashed.select($"doc_id", $"bands", posexplode($"bands"))
      .withColumnRenamed("pos", "band_idx")
      .withColumnRenamed("col", "band_val")
    val smallBuckets = bands
      .groupBy($"band_idx", $"band_val")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" > 1 && $"bucket_n" <= bucketCap)
      .select($"band_idx", $"band_val")
    val bucketed = bands.join(smallBuckets, Seq("band_idx", "band_val"))
    val a = bucketed.select($"band_idx", $"band_val", $"doc_id".as("id1"), $"bands".as("s1"))
    val b = bucketed.select($"band_idx", $"band_val", $"doc_id".as("id2"), $"bands".as("s2"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2", expr(
        "cast(aggregate(sequence(0, 3), 0, (a, i) -> a + bit_count(s1[i] ^ s2[i])) as int)")
        .as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
  }

  // ---- D6d `mm_phash_serve`: the PERSISTED perceptual index ---------
  //
  // D6b rehashes the whole media corpus per run; a media pipeline
  // keeps the accumulated BAND POSTINGS indexed once and probes them
  // per arriving batch (the C23b/C30b posture for the mm family). The
  // store is band-token-bucketed — a serve routes the batch's band
  // values to their buckets (driver ints) and reads ONLY those
  // buckets, so the read is collision-bounded, never corpus-bounded;
  // rows carry the full 4-int band array (8 bytes of payload), so the
  // exact hamming verify needs nothing outside the read set.

  def phashIndexWrite(bmp: DataFrame, path: String, nBuckets: Int = 16): Unit =
    phashIndexAppendRaw(bmp, path, Some(nBuckets), overwrite = true)

  /** O(batch) fold of a new media batch's band postings. */
  def phashIndexAppend(bmp: DataFrame, path: String): Unit =
    phashIndexAppendRaw(bmp, path, None, overwrite = false)

  /** Postings first, the commit row LAST — torn writes invisible. */
  private[graft] def phashIndexAppendRaw(bmp: DataFrame, path: String,
                                  nBucketsOpt: Option[Int],
                                  overwrite: Boolean,
                                  commit: Boolean = true): Unit = {
    val spark = bmp.sparkSession
    val L = IndexLayout.Phash
    val nBuckets = nBucketsOpt.getOrElse(L.pinned(L.log(spark, path), path, "n_buckets"))
    L.append(spark, path, overwrite, commit) { (batchId, mode) =>
      phashBandsWriteFrame(bmp, nBuckets, batchId)
        .repartition(col("bucket"))
        .write.partitionBy("bucket").mode(mode).parquet(s"$path/bands")
    }(L.row(spark, _, nBuckets))
  }

  /** The band-postings frame an index write/append lands, up to the
    * write command (split out so PlanDump can commit its plan).
    *
    * posexplode_OUTER: a plain posexplode makes InferFiltersFromGenerate
    * add `size(bands) > 0` below the Generate, and predicate pushdown
    * then INLINES the whole phash lambda into that filter and pushes
    * it below the fanout exchange — the entire hash re-evaluates
    * interpreted on the pre-fanout partition (measured 3 s of the
    * write's 3.7 s at sf0.1; the F13 expression-inlining trap one
    * rule over). `bands` is a non-null 4-band array for every decoded
    * row, so the outer form emits identical rows with no inferred
    * filter. (r17 opt, guide §1.2/§4.4) */
  private[graft] def phashBandsWriteFrame(bmp: DataFrame, nBuckets: Int,
                                          batchId: String): DataFrame = {
    import bmp.sparkSession.implicits._
    phashFrame(bmp).select($"doc_id", $"bands", posexplode_outer($"bands"))
      .select(pmod(xxhash64($"pos", $"col"), lit(nBuckets)).cast("int").as("bucket"),
        $"pos".as("band_idx"), $"col".as("band_val"),
        $"doc_id", $"bands", lit(batchId).as("batch_id"))
  }

  /** Serve an arriving media batch against the accumulated band
    * index: D6b's exact semantics (shared band candidacy under the
    * drop-bucket cap over index ∪ batch, exact hamming verify)
    * restricted to pairs touching the batch. */
  def mmPhashServe(spark: SparkSession, path: String, bmp: DataFrame,
                   maxHamming: Int = 6, bucketCap: Int = 1000): DataFrame = {
    import spark.implicits._
    // posexplode_OUTER for the same reason as the index write: the
    // non-outer form's inferred size filter inlines the phash lambda
    // below the fanout exchange (r17 opt)
    val neuBands = phashFrame(bmp)
      .select($"doc_id", $"bands", posexplode_outer($"bands"))
      .select($"pos".as("band_idx"), $"col".as("band_val"),
        $"doc_id", $"bands")
      .localCheckpoint()
    val L = IndexLayout.Phash
    val log = L.log(spark, path)
    val (committed, nBuckets) = (L.batches(log), L.pinned(log, path, "n_buckets"))
    val dead = L.tombstones(spark, path, committed).toDF("doc_id")
    val buckets = IndexLayout.partitionsOf(neuBands
      .select(pmod(xxhash64($"band_idx", $"band_val"), lit(nBuckets)).cast("int").as("b")))
    val refRows = L.read(spark, path, "bands")
      .filter($"bucket".isin(buckets: _*))
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .join(neuBands.select($"band_idx", $"band_val").distinct(),
        Seq("band_idx", "band_val"), "left_semi")
      .select($"band_idx", $"band_val", $"doc_id", $"bands")
    val all = refRows.unionAll(
      neuBands.select($"band_idx", $"band_val", $"doc_id", $"bands"))
    // the from-scratch drop-bucket cap: population over (index ∪
    // batch) — exact for every candidate key, because a touched
    // key's whole posting list lives in its one bucket
    val smallBuckets = all.groupBy($"band_idx", $"band_val")
      .agg(count(lit(1)).as("bucket_n"))
      .filter($"bucket_n" > 1 && $"bucket_n" <= bucketCap)
      .select($"band_idx", $"band_val")
    val bucketed = all.join(smallBuckets, Seq("band_idx", "band_val"))
    val a = bucketed.select($"band_idx", $"band_val",
      $"doc_id".as("id1"), $"bands".as("s1"))
    val b = bucketed.select($"band_idx", $"band_val",
      $"doc_id".as("id2"), $"bands".as("s2"))
    val batchIds = neuBands.select($"doc_id").distinct().localCheckpoint()
    a.join(b, Seq("band_idx", "band_val"))
      .filter($"id1" < $"id2")
      .select($"id1", $"id2", expr(
        "cast(aggregate(sequence(0, 3), 0, (a, i) -> a + bit_count(s1[i] ^ s2[i])) as int)")
        .as("hamming"))
      .distinct()
      .filter($"hamming" <= maxHamming)
      .join(batchIds.select($"doc_id".as("id1"), lit(1).as("b1")), Seq("id1"), "left")
      .join(batchIds.select($"doc_id".as("id2"), lit(1).as("b2")), Seq("id2"), "left")
      .filter($"b1".isNotNull || $"b2".isNotNull)
      .select($"id1", $"id2", $"hamming")
  }

  /** D6d gate — the full index lifecycle as a nightly job would run
    * it: 70% write + 30% append, every 5th original TOMBSTONED, then
    * the noisy re-crawl twins arrive as the batch: HASH-EQUAL to
    * D6b's from-scratch pairs over (surviving originals ∪ twins)
    * restricted to twin-touching pairs. */
  def mmPhashServeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ref = bmpTable(spark, dir).select($"doc_id", $"payload")
    val neu = bmpTwinTable(spark, dir)
    if (ref.isEmpty || neu.isEmpty)
      return Seq.empty[(Long, Long, Int)].toDF("id1", "id2", "hamming")
    val cut = Tables.prefixCut(ref).get
    graft.sources.Lake.withScratchIndex(spark, "graft_phash_idx") { tmp =>
      phashIndexWrite(Tables.fanout(ref.filter($"doc_id" <= cut)), tmp)
      phashIndexAppend(Tables.fanout(ref.filter($"doc_id" > cut)), tmp)
      IndexLayout.Phash.delete(spark, tmp, ref.filter($"doc_id" % 5 === 0))
      mmPhashServe(spark, tmp, Tables.fanout(neu))
    }
  }

  /** D6d oracle — the D6b oracle over the SURVIVING originals (every
    * 5th tombstoned; twins all arrive in the batch regardless),
    * restricted to twin-touching pairs (twin ids sit above
    * [[NearDup.BigOffset]]; `a.id < b.id` puts a twin in id2
    * whenever a pair touches the batch). */
  def mmPhashServeSql(maxHamming: Int = 6, bucketCap: Int = 1000): String =
    s"""SELECT id1, id2, hamming FROM (
       |${mmPhashDedupSql(maxHamming, bucketCap, "doc_id % 5 <> 0")}
       |) q WHERE id2 >= ${NearDup.BigOffset}""".stripMargin

  /** D6c `mm_phash_cluster` — the perceptual dedup DECISION: connected
    * components of the D6b pair graph via large/small-star contraction
    * ([[NearDup.starContract]], O(log²) rounds on any graph shape),
    * one keeper (minimum id) per component — detect-pairs → cluster →
    * keeper is the full chain a media pipeline runs before dropping
    * perceptual duplicates. Nodes appear iff they participate in a
    * pair (C14b's convention); the oracle is recursive-CTE
    * reachability over the same pair set. */
  def mmPhashCluster(spark: SparkSession, dir: String, maxHamming: Int = 6,
                     bucketCap: Int = 1000): DataFrame = {
    import spark.implicits._
    NearDup.starContract(
      mmPhashDedup(spark, dir, maxHamming, bucketCap).select($"id1", $"id2"))
  }

  def mmPhashClusterSql(maxHamming: Int = 6, bucketCap: Int = 1000): String =
    s"""WITH RECURSIVE pairs AS (
       |  SELECT id1, id2 FROM (
       |${mmPhashDedupSql(maxHamming, bucketCap)}
       |) pq),
       |bi AS (SELECT id1 AS n, id2 AS nbr FROM pairs
       |       UNION SELECT id2, id1 FROM pairs),
       |reach(n, m) AS (
       |  SELECT DISTINCT n, n FROM bi
       |  UNION
       |  SELECT r.n, b.nbr FROM reach r JOIN bi b ON r.m = b.n)
       |SELECT n AS doc_id, MIN(m) AS cluster_id,
       |       n = MIN(m) AS is_keeper
       |FROM reach GROUP BY n""".stripMargin

  /** Shared CTE prefix of the D6 oracles: the generator's closed-form
    * pixel values (base + noisy-twin variants) → 8×8 grid gray cells →
    * threshold bits → 16-bit bands. Mirrors [[phashFrame]] /
    * [[bmpTableRaw]]'s noise construct-for-construct (DuckDB lists are
    * 1-based, hence the +1 indexing). */
  private def phashCte(origPred: String = "TRUE"): String =
    s"""img AS (
       |  SELECT doc_id, CAST(3 + doc_id % 8 AS INT) AS w,
       |         CAST(2 + doc_id % 6 AS INT) AS h
       |  FROM documents WHERE doc_id % 3 = 0),
       |var AS (
       |  SELECT doc_id AS id, doc_id AS orig, w, h, 0 AS noisy FROM img
       |  WHERE $origPred
       |  UNION ALL
       |  SELECT doc_id + ${NearDup.BigOffset}, doc_id, w, h, 1 FROM img),
       |cell AS (
       |  SELECT id, noisy, list_transform(range(0, 64), k ->
       |    list_sum(list_transform(range(0, 3), ch ->
       |      CASE WHEN noisy = 1
       |                AND ((((k // 8) * h) // 8) + (((k % 8) * w) // 8)) % 2 = 0
       |        THEN least((orig * 7 + (((k // 8) * h) // 8) * 31
       |                    + (((k % 8) * w) // 8) * 13 + ch * 101) % 256 + 3, 255)
       |        ELSE (orig * 7 + (((k // 8) * h) // 8) * 31
       |              + (((k % 8) * w) // 8) * 13 + ch * 101) % 256
       |      END))) AS cells
       |  FROM var),
       |hb AS (
       |  SELECT id, noisy, cells, list_sum(cells) AS total FROM cell),
       |bits AS (
       |  SELECT id, noisy, list_transform(range(0, 64),
       |           k -> CASE WHEN 64 * cells[k + 1] > total THEN 1 ELSE 0 END) AS bits
       |  FROM hb)""".stripMargin

  /** D6 oracle: per-image band values of the BASE corpus. */
  val mmPhashSql: String =
    s"""WITH ${phashCte()}
       |SELECT id AS doc_id,
       |  CAST(list_sum(list_transform(range(0, 16), k -> bits[k + 1] * (1 << k))) AS INT) AS b0,
       |  CAST(list_sum(list_transform(range(0, 16), k -> bits[k + 17] * (1 << k))) AS INT) AS b1,
       |  CAST(list_sum(list_transform(range(0, 16), k -> bits[k + 33] * (1 << k))) AS INT) AS b2,
       |  CAST(list_sum(list_transform(range(0, 16), k -> bits[k + 49] * (1 << k))) AS INT) AS b3
       |FROM bits WHERE noisy = 0""".stripMargin

  /** D6b oracle: band-bucket candidates (drop-bucket cap) + hamming
    * filter over base ∪ twins. */
  def mmPhashDedupSql(maxHamming: Int = 6, bucketCap: Int = 1000,
                      origPred: String = "TRUE"): String =
    s"""WITH ${phashCte(origPred)},
       |bands AS (
       |  SELECT id, bits, b.b AS band_idx,
       |         CAST(list_sum(list_transform(range(0, 16),
       |                k -> bits[16 * b.b + k + 1] * (1 << k))) AS INT) AS band_val
       |  FROM bits CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b),
       |ok AS (
       |  SELECT band_idx, band_val FROM bands GROUP BY 1, 2
       |  HAVING COUNT(*) > 1 AND COUNT(*) <= $bucketCap),
       |cand AS (
       |  SELECT a.id AS id1, b.id AS id2, a.bits AS bits1, b.bits AS bits2
       |  FROM bands a JOIN ok USING (band_idx, band_val)
       |       JOIN bands b USING (band_idx, band_val)
       |  WHERE a.id < b.id)
       |SELECT * FROM (
       |  SELECT DISTINCT id1, id2,
       |         CAST(len(list_filter(range(0, 64),
       |                k -> bits1[k + 1] <> bits2[k + 1])) AS INT) AS hamming
       |  FROM cand)
       |WHERE hamming <= $maxHamming""".stripMargin

  /** E9 oracle: the D6 band pipeline with RANK-TRUNCATION cap
    * semantics (each bucket admits its `bucketCap` smallest doc_ids —
    * what the streaming detector, which cannot know a bucket's final
    * size, computes; E6's [[graft.operators.NearDup.minhashTruncatedSql]]
    * precedent). At any SF where no bucket exceeds the cap this
    * coincides with [[mmPhashDedupSql]]'s drop-bucket form. */
  def mmPhashTruncatedSql(maxHamming: Int = 6, bucketCap: Int = 1000): String =
    s"""WITH ${phashCte()},
       |bands AS (
       |  SELECT id, bits, b.b AS band_idx,
       |         CAST(list_sum(list_transform(range(0, 16),
       |                k -> bits[16 * b.b + k + 1] * (1 << k))) AS INT) AS band_val
       |  FROM bits CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b),
       |adm AS (
       |  SELECT * FROM (
       |    SELECT id, bits, band_idx, band_val,
       |           row_number() OVER (PARTITION BY band_idx, band_val ORDER BY id) AS rn
       |    FROM bands) WHERE rn <= $bucketCap),
       |cand AS (
       |  SELECT a.id AS id1, b.id AS id2, a.bits AS bits1, b.bits AS bits2
       |  FROM adm a JOIN adm b USING (band_idx, band_val)
       |  WHERE a.id < b.id)
       |SELECT * FROM (
       |  SELECT DISTINCT id1, id2,
       |         CAST(len(list_filter(range(0, 64),
       |                k -> bits1[k + 1] <> bits2[k + 1])) AS INT) AS hamming
       |  FROM cand)
       |WHERE hamming <= $maxHamming""".stripMargin

  /** Oracle: the generator's closed form — header fields from the
    * doc_id formulas, channel means as exact integer sums over the
    * pixel lattice. Anything the decoder misparses diverges. */
  val mmFeatureExtractSql: String =
    """WITH img AS (
      |  SELECT doc_id,
      |         CAST(3 + doc_id % 8 AS INT) AS w,
      |         CAST(2 + doc_id % 6 AS INT) AS h
      |  FROM documents WHERE doc_id % 3 = 0),
      |px AS (
      |  SELECT doc_id, w, h, t.p AS p
      |  FROM img, unnest(generate_series(0, w * h - 1)) AS t(p))
      |SELECT doc_id, w AS width_px, h AS height_px, CAST(24 AS INT) AS bpp,
      |       CAST(54 + ((w * 3 + 3) // 4) * 4 * h AS INT) AS n_bytes,
      |       round(SUM((doc_id * 7 + (p // w) * 31 + (p % w) * 13 + 0 * 101) % 256)
      |             / CAST(w * h AS DOUBLE), 6) AS mean_b,
      |       round(SUM((doc_id * 7 + (p // w) * 31 + (p % w) * 13 + 1 * 101) % 256)
      |             / CAST(w * h AS DOUBLE), 6) AS mean_g,
      |       round(SUM((doc_id * 7 + (p // w) * 31 + (p % w) * 13 + 2 * 101) % 256)
      |             / CAST(w * h AS DOUBLE), 6) AS mean_r
      |FROM px GROUP BY doc_id, w, h""".stripMargin
}
