package graft.operators

import graft.{Artifacts, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data governance / curation operators (SURVEY.md §2 F1-F6):
  * PII redaction, repetition scoring, benchmark decontamination,
  * deterministic sampling + train/val/test splits, sentence statistics,
  * CSV ingest. These are the curation steps a pre-training corpus goes
  * through after dedup and before packing.
  *
  * The synthetic corpus has no PII, so `pii_redact` PLANTS deterministic
  * PII first (same idea as NearDup's planted twins) — the detector's
  * self-test corpus. Every op is a declarative single plan: scan-speed
  * per-row compute (regex/codegen), aggregation only where the
  * semantics demand it, no UDFs, no driver loops.
  */
object Govern {

  // Regexes chosen to mean the same thing in Java regex (Spark) and
  // RE2 (DuckDB oracle): no lookaround, no backrefs, ASCII classes.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val UrlRe = "https?://[^\\s]+"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"

  /** Benchmark-set membership stand-in (doc_id % BenchMod == 0) —
    * shared by `decontaminate` and `pipeline_training_manifest`, engine
    * and oracle sides, so the two gates can't drift. */
  private[graft] val BenchMod = 17

  /** documents with deterministically planted PII: every 7th doc gains
    * an email, every 11th a URL, every 13th a phone number (mod doc_id,
    * so the plant is reproducible in SQL too). */
  private def plantedPii(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id",
      concat(
        $"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com"))).otherwise(""),
        when($"doc_id" % 11 === 0,
          concat(lit(" see https://site"), $"doc_id", lit(".example/path"))).otherwise(""),
        when($"doc_id" % 13 === 0,
          concat(lit(" call "), lpad(($"doc_id" % 900 + 100).cast("string"), 3, "0"),
            lit("-555-0142"))).otherwise("")
      ).as("text"))
  }

  /** F1 `pii_redact` — regex PII redaction (emails, URLs, phone
    * numbers) + per-doc detection counts. One codegen'd regex pass per
    * pattern per row, no shuffle at all: the whole operator is
    * scan-parallel, the shape that saturates IO at 100 TB. Redaction
    * order (email → url → phone) is fixed so the patterns can't eat
    * each other's placeholders. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    plantedPii(spark, dir).select(
      $"doc_id",
      regexp_count($"text", lit(EmailRe)).as("n_emails"),
      regexp_count($"text", lit(UrlRe)).as("n_urls"),
      regexp_count($"text", lit(PhoneRe)).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace($"text", EmailRe, "<EMAIL>"),
          UrlRe, "<URL>"),
        PhoneRe, "<PHONE>").as("redacted"))
  }

  // NOTE: no line may START with '||' — this string is interpolated
  // into piiRedactSql, whose stripMargin would eat one of the pipes.
  private val plantedPiiSql: String =
    """SELECT doc_id,
      |  text ||
      |  CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0 THEN ' see https://site' || CAST(doc_id AS VARCHAR) || '.example/path' ELSE '' END ||
      |  CASE WHEN doc_id % 13 = 0 THEN ' call ' || lpad(CAST(doc_id % 900 + 100 AS VARCHAR), 3, '0') || '-555-0142' ELSE '' END
      |  AS text
      |FROM documents""".stripMargin

  val piiRedactSql: String =
    s"""WITH planted AS ($plantedPiiSql)
       |SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
       |  CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS INT) AS n_urls,
       |  CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b')) AS INT) AS n_phones,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
       |    'https?://[^\\s]+', '<URL>', 'g'),
       |    '\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g') AS redacted
       |FROM planted""".stripMargin

  // ---- F23: checksum-validated structured PII ----------------------
  //
  // F1's regex redaction treats every pattern hit as PII; real
  // pipelines validate STRUCTURED identifiers by checksum first —
  // a 16-digit sequence is only a card number if it passes Luhn
  // mod-10, an IBAN only real if its rearranged digits ≡ 1 mod 97 —
  // so a random digit run (an ID, a hash prefix) is not redacted.
  // Both checksums here are pure integer expressions (no UDF): Luhn
  // is a position-parity digit sum; IBAN mod-97 uses the FIXED
  // 24-digit layout of a DE IBAN, so each position's 10^k mod 97
  // weight is a compile-time constant and the big-number mod becomes
  // one weighted digit sum.

  /** 10^(24-i) mod 97 for i = 1..24 — the positional weights of the
    * rearranged (BBAN ‖ '1314' ‖ check) DE-IBAN digit string. */
  private val IbanW =
    "array(56,25,51,73,17,89,38,62,45,53,15,50,5,49,34,81,76,27,90,9,30,3,10,1)"
  private val IbanWSql =
    "[56,25,51,73,17,89,38,62,45,53,15,50,5,49,34,81,76,27,90,9,30,3,10,1]"

  /** documents with deterministically planted STRUCTURED identifiers:
    * every 5th doc a 16-digit card (Luhn-VALID on even ids, check
    * digit +1 on odd — provably invalid), every 6th a DE IBAN
    * (mod-97-valid check digits on even ids, +1 on odd, which shifts
    * the rearranged number by exactly 1 mod 97 — never valid). The
    * check digits are COMPUTED with the same integer folds the
    * validator uses, identically in the oracle. */
  private def plantedStructured(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id", $"text")
      .withColumn("p15", expr("lpad(CAST(doc_id AS STRING), 15, '4')"))
      .withColumn("s15", expr(
        """aggregate(sequence(1, 15), 0, (a, i) -> a +
          |  (CASE WHEN i % 2 = 1
          |        THEN IF(2 * CAST(substring(p15, i, 1) AS INT) > 9,
          |                2 * CAST(substring(p15, i, 1) AS INT) - 9,
          |                2 * CAST(substring(p15, i, 1) AS INT))
          |        ELSE CAST(substring(p15, i, 1) AS INT) END))""".stripMargin))
      .withColumn("cd", expr(
        "IF(doc_id % 2 = 0, (10 - s15 % 10) % 10, ((10 - s15 % 10) % 10 + 1) % 10)"))
      .withColumn("bban", expr("lpad(CAST(doc_id AS STRING), 18, '0')"))
      .withColumn("m22", expr(
        s"""aggregate(sequence(1, 22), 0, (a, i) -> a +
           |  CAST(substring(concat(bban, '1314'), i, 1) AS INT) * element_at($IbanW, i)) % 97""".stripMargin))
      .withColumn("cc", expr(
        "IF(doc_id % 2 = 0, 98 - m22, IF(98 - m22 = 98, 2, 99 - m22))"))
      .select($"doc_id", expr(
        """concat(text,
          |  IF(doc_id % 5 = 0, concat(' card ', p15, CAST(cd AS STRING)), ''),
          |  IF(doc_id % 6 = 0,
          |     concat(' iban DE', lpad(CAST(cc AS STRING), 2, '0'), bban), ''))""".stripMargin)
        .as("text"))
  }

  /** F23 `pii_structured` — checksum-validated structured-PII
    * redaction: extract 16-digit and DE-IBAN candidates, validate by
    * Luhn / mod-97 INTEGER expressions, and redact ONLY validated
    * hits — checksum-failing candidates stay in the text and are
    * counted as rejected, which is precisely the false-positive class
    * a regex-only redactor (F1) cannot separate.
    *
    * Scale: F1's shape — pure per-row codegen'd regex + fixed-length
    * integer folds, zero shuffle; saturates scan IO at 100 TB. */
  def piiStructured(spark: SparkSession, dir: String): DataFrame =
    piiStructuredOf(Tables.fanout(plantedStructured(spark, dir)))

  /** Frame-based core of F23 (docs = (doc_id, text)). IF-guards, not
    * AND: under ANSI a CAST('' AS INT) in a not-taken conjunct would
    * still throw — only IF/CASE branches are lazily skipped. */
  private[graft] def piiStructuredOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("cand", expr("regexp_extract(text, '\\\\b([0-9]{16})\\\\b', 1)"))
      .withColumn("luhn_ok", expr(
        """IF(cand = '', false,
          |  aggregate(sequence(1, 16), 0, (a, i) -> a +
          |    (CASE WHEN i % 2 = 1
          |          THEN IF(2 * CAST(substring(cand, i, 1) AS INT) > 9,
          |                  2 * CAST(substring(cand, i, 1) AS INT) - 9,
          |                  2 * CAST(substring(cand, i, 1) AS INT))
          |          ELSE CAST(substring(cand, i, 1) AS INT) END)) % 10 = 0)""".stripMargin))
      .withColumn("ic", expr("regexp_extract(text, '\\\\b(DE[0-9]{20})\\\\b', 1)"))
      .withColumn("iban_ok", expr(
        s"""IF(ic = '', false,
           |  aggregate(sequence(1, 24), 0, (a, i) -> a +
           |    CAST(substring(concat(substring(ic, 5, 18), '1314', substring(ic, 3, 2)), i, 1) AS INT)
           |      * element_at($IbanW, i)) % 97 = 1)""".stripMargin))
      .select($"doc_id",
        expr("CAST(IF(luhn_ok, 1, 0) AS INT)").as("n_cards"),
        expr("CAST(IF(iban_ok, 1, 0) AS INT)").as("n_ibans"),
        expr("CAST(IF(cand != '' AND NOT luhn_ok, 1, 0) + IF(ic != '' AND NOT iban_ok, 1, 0) AS INT)")
          .as("n_rejected"),
        expr("""IF(iban_ok,
               |   replace(IF(luhn_ok, replace(text, cand, '<CARD>'), text), ic, '<IBAN>'),
               |   IF(luhn_ok, replace(text, cand, '<CARD>'), text))""".stripMargin)
          .as("redacted"))
  }

  /** F23 oracle: identical plant + identical integer checksums in
    * DuckDB. No generated line may START with '||' (stripMargin). */
  val piiStructuredSql: String = {
    val luhn15 =
      """list_sum(list_transform(generate_series(1, 15), i ->
        |    CASE WHEN i % 2 = 1
        |         THEN CASE WHEN 2 * CAST(substr(p15, i, 1) AS INT) > 9
        |                   THEN 2 * CAST(substr(p15, i, 1) AS INT) - 9
        |                   ELSE 2 * CAST(substr(p15, i, 1) AS INT) END
        |         ELSE CAST(substr(p15, i, 1) AS INT) END))""".stripMargin
    val luhn16 =
      """list_sum(list_transform(generate_series(1, 16), i ->
        |    CASE WHEN i % 2 = 1
        |         THEN CASE WHEN 2 * CAST(substr(cand, i, 1) AS INT) > 9
        |                   THEN 2 * CAST(substr(cand, i, 1) AS INT) - 9
        |                   ELSE 2 * CAST(substr(cand, i, 1) AS INT) END
        |         ELSE CAST(substr(cand, i, 1) AS INT) END))""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, text,
       |         lpad(CAST(doc_id AS VARCHAR), 15, '4') AS p15,
       |         lpad(CAST(doc_id AS VARCHAR), 18, '0') AS bban
       |  FROM documents),
       |checked AS (
       |  SELECT *,
       |         $luhn15 AS s15,
       |         list_sum(list_transform(generate_series(1, 22), i ->
       |           CAST(substr(bban || '1314', i, 1) AS INT) * ($IbanWSql)[i])) % 97 AS m22
       |  FROM base),
       |planted AS (
       |  SELECT doc_id,
       |         text ||
       |         CASE WHEN doc_id % 5 = 0 THEN ' card ' || p15 ||
       |           CAST(CASE WHEN doc_id % 2 = 0 THEN (10 - s15 % 10) % 10
       |                     ELSE ((10 - s15 % 10) % 10 + 1) % 10 END AS VARCHAR)
       |         ELSE '' END ||
       |         CASE WHEN doc_id % 6 = 0 THEN ' iban DE' ||
       |           lpad(CAST(CASE WHEN doc_id % 2 = 0 THEN 98 - m22
       |                          WHEN 98 - m22 = 98 THEN 2
       |                          ELSE 99 - m22 END AS VARCHAR), 2, '0') || bban
       |         ELSE '' END AS text
       |  FROM checked),
       |cands AS (
       |  SELECT doc_id, text,
       |         regexp_extract(text, '\\b([0-9]{16})\\b', 1) AS cand,
       |         regexp_extract(text, '\\b(DE[0-9]{20})\\b', 1) AS ic
       |  FROM planted),
       |valid AS (
       |  SELECT *,
       |         CASE WHEN cand = '' THEN FALSE
       |              ELSE $luhn16 % 10 = 0 END AS luhn_ok,
       |         CASE WHEN ic = '' THEN FALSE
       |              ELSE list_sum(list_transform(generate_series(1, 24), i ->
       |                CAST(substr(substr(ic, 5, 18) || '1314' || substr(ic, 3, 2), i, 1) AS INT)
       |                  * ($IbanWSql)[i])) % 97 = 1 END AS iban_ok
       |  FROM cands)
       |SELECT doc_id,
       |       CAST(CASE WHEN luhn_ok THEN 1 ELSE 0 END AS INT) AS n_cards,
       |       CAST(CASE WHEN iban_ok THEN 1 ELSE 0 END AS INT) AS n_ibans,
       |       CAST(CASE WHEN cand <> '' AND NOT luhn_ok THEN 1 ELSE 0 END +
       |            CASE WHEN ic <> '' AND NOT iban_ok THEN 1 ELSE 0 END AS INT) AS n_rejected,
       |       CASE WHEN iban_ok THEN
       |              replace(CASE WHEN luhn_ok THEN replace(text, cand, '<CARD>') ELSE text END, ic, '<IBAN>')
       |            ELSE CASE WHEN luhn_ok THEN replace(text, cand, '<CARD>') ELSE text END END AS redacted
       |FROM valid""".stripMargin
  }

  /** F2 `repetition_score` — Gopher-style repetition signals per doc:
    * duplicate-bigram fraction and most-frequent-bigram fraction. High
    * values flag boilerplate/templated text that survives exact dedup.
    * Shape: explode bigrams → two-level partial agg keyed by doc — the
    * explode never leaves the partition before the first combine. */
  def repetitionScore(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.fanout(Tables.documents(spark, dir).select($"doc_id", $"text"))
      .withColumn("toks", split(trim($"text"), "\\s+"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        "transform(sequence(0, size(toks)-2), i -> concat_ws(' ', toks[i], toks[i+1]))")).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"), count(lit(1)).as("n_distinct"), max($"c").as("top_c"))
      .select($"doc_id", $"n_bigrams", $"n_distinct",
        (($"n_bigrams" - $"n_distinct").cast("double") / $"n_bigrams".cast("double"))
          .as("dup_frac"),
        ($"top_c".cast("double") / $"n_bigrams".cast("double")).as("top_frac"))
  }

  val repetitionScoreSql: String =
    """WITH grams AS (
      |  SELECT doc_id, unnest(list_transform(range(len(l) - 1), i -> l[i+1] || ' ' || l[i+2])) AS gram
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS l FROM documents)
      |  WHERE len(l) >= 2),
      |counts AS (
      |  SELECT doc_id, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(SUM(c) AS BIGINT) AS n_bigrams,
      |       COUNT(*) AS n_distinct,
      |       CAST(SUM(c) - COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dup_frac,
      |       CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_frac
      |FROM counts GROUP BY doc_id""".stripMargin

  /** F3 `decontaminate` — benchmark contamination detection: flag every
    * training doc sharing at least one word-5-gram with the benchmark
    * set (stand-in: docs with doc_id % 17 = 0), with the count of
    * distinct shared 4-grams. The canonical pre-training decontam step
    * (e.g. GPT-3 appendix C, 13-gram overlap).
    *
    * Scale: the benchmark side is tiny by nature → build its DISTINCT
    * gram set and `broadcast` it; the corpus side streams through a
    * broadcast semi-join keyed on a 64-bit gram hash (no string
    * shuffles), then one partial-agg count per doc. The corpus is never
    * shuffled until the per-doc aggregate on matches only. */
  def decontaminate(spark: SparkSession, dir: String, n: Int = 4): DataFrame =
    // memoized per (session, dir, n): the flagged-id table is the
    // shared intermediate of F3 itself, F18's contaminated leg, F19's
    // freeze, F16's manifest exclusion and the audit report — one
    // gram pass instead of five (r16 opt; the pairs-memo precedent).
    // Output is small (flagged docs × two longs), eagerly checkpointed.
    Artifacts.value(spark, Artifacts.Decontam, dir, n) {
      import spark.implicits._
      val grams = DocFeatures.grams(DocFeatures.forDir(spark, dir), n)
      decontScore(
        grams.filter($"doc_id" % BenchMod =!= 0),
        grams.filter($"doc_id" % BenchMod === 0).select($"gh").distinct())
        .localCheckpoint()
    }

  /** Per-doc DISTINCT word-n-gram 64-bit hashes — the shared feature
    * of the batch decontam pass and the streaming scorer (E21). */
  private[graft] def docGrams(docs: DataFrame, n: Int = 4): DataFrame =
    DocFeatures.grams(DocFeatures.of(docs), n)

  /** SCORE gram-exploded docs against a frozen benchmark gram set:
    * one broadcast semi-join + one per-doc count — stateless, so the
    * identical call flags a batch corpus or an arriving micro-batch
    * (E21). A doc's count depends on the frozen set and its own
    * grams alone. */
  private[graft] def decontScore(grams: DataFrame, benchGrams: DataFrame): DataFrame = {
    import grams.sparkSession.implicits._
    grams.join(broadcast(benchGrams), Seq("gh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** The frozen benchmark gram set (the static side E21 broadcasts;
    * eagerly materialized — the nightly "index the benchmarks" job). */
  private[graft] def benchGramSet(spark: SparkSession, dir: String,
                                  n: Int = 4): DataFrame =
    // memoized per (session, dir, n): the frozen benchmark gram set
    // E21 broadcasts is also F19's freeze input (r16 opt)
    Artifacts.value(spark, Artifacts.BenchGrams, dir, n) {
      import spark.implicits._
      DocFeatures.grams(DocFeatures.forDir(spark, dir), n)
        .filter($"doc_id" % BenchMod === 0).select($"gh").distinct()
        .localCheckpoint()
    }

  def decontaminateSql(n: Int = 4): String =
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(l) - ${n - 1}),
       |      i -> array_to_string(l[i+1:i+$n], ' ')))) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents)
       |  WHERE len(l) >= $n),
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % $BenchMod = 0)
       |SELECT doc_id, COUNT(*) AS n_shared_grams
       |FROM grams JOIN bench USING (gram)
       |WHERE doc_id % $BenchMod <> 0
       |GROUP BY doc_id""".stripMargin

  /** F3b `contam_overlap_report` — per-doc contamination FRACTION, the
    * published contamination ANALYSIS next to F3's binary gate: large
    * model reports (GPT-3 appendix C, PaLM §7) grade eval sets by the
    * fraction of each doc's n-grams shared with benchmarks and split
    * "dirty" from marginally-contaminated docs — a binary flag
    * over-drops a long doc quoting one benchmark line. Output per
    * non-benchmark doc WITH AT LEAST n TOKENS (shorter docs form no
    * n-grams and are absent — there is nothing to grade them on;
    * zero-HIT docs of sufficient length ARE emitted as `clean`, which
    * F3's inner join never does): distinct-gram count, shared count,
    * contam_ppm =
    * ⌊10⁶·shared div grams⌋ and a verdict — `clean` (0 hits), `dirty`
    * (shared ≥ half, integer cross-multiply), else `partial`.
    *
    * Scale: F3's exact shape — one gram explode, a broadcast LEFT
    * join against the frozen benchmark gram set, one per-doc hash
    * agg; the fraction adds zero shuffle. */
  def contamOverlapReport(spark: SparkSession, dir: String, n: Int = 4): DataFrame =
    contamOverlapOf(Tables.fanout(
      Tables.documents(spark, dir).select(col("doc_id"), col("text"))), n)

  /** Frame-based core of F3b (docs = (doc_id, text)) — benchmark side
    * = doc_id % BenchMod == 0, like F3. */
  private[graft] def contamOverlapOf(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = docGrams(docs, n)
    val bench = grams.filter($"doc_id" % BenchMod === 0)
      .select($"gh").distinct().withColumn("hit", lit(1))
    grams.filter($"doc_id" % BenchMod =!= 0)
      .join(broadcast(bench), Seq("gh"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0))).as("n_shared"))
      .withColumn("contam_ppm", expr("(1000000L * n_shared) div n_grams"))
      .withColumn("verdict",
        when($"n_shared" === 0L, "clean")
          .when($"n_shared" * 2 >= $"n_grams", "dirty")
          .otherwise("partial"))
  }

  /** F3b oracle: the same distinct-gram LEFT join and integer
    * fraction arithmetic in DuckDB. */
  def contamOverlapReportSql(n: Int = 4): String =
    s"""WITH grams AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    list_transform(range(len(l) - ${n - 1}),
       |      i -> array_to_string(l[i+1:i+$n], ' ')))) AS gram
       |  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents)
       |  WHERE len(l) >= $n),
       |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % $BenchMod = 0)
       |SELECT doc_id, COUNT(*) AS n_grams,
       |       CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
       |       (1000000 * CAST(SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT))
       |         // COUNT(*) AS contam_ppm,
       |       CASE WHEN SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) = 0 THEN 'clean'
       |            WHEN 2 * SUM(CASE WHEN b.gram IS NOT NULL THEN 1 ELSE 0 END) >= COUNT(*) THEN 'dirty'
       |            ELSE 'partial' END AS verdict
       |FROM (SELECT doc_id, gram FROM grams WHERE doc_id % $BenchMod <> 0) c
       |LEFT JOIN bench b USING (gram)
       |GROUP BY doc_id""".stripMargin

  /** Deterministic uniform [0,100) bucket from a key: first 8 hex chars
    * of md5, engine-portable (identical in DuckDB). Hash-based
    * sampling is reproducible on any cluster, any partitioning, any
    * day — the property random() sampling lacks. */
  private def hashBucket(key: org.apache.spark.sql.Column, salt: String) =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 8), 16, 10)
      .cast(LongType) % 100

  /** F4 `sample_split` — deterministic train/val/test assignment
    * (80/10/10) by key hash. Pure per-row compute: no shuffle, no
    * state, stable under reprocessing — appending data never reassigns
    * an existing doc. */
  def sampleSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", hashBucket($"doc_id", ":split").as("bucket"))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val").otherwise("test"))
  }

  val sampleSplitSql: String =
    """SELECT doc_id, bucket,
      |       CASE WHEN bucket < 80 THEN 'train'
      |            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)""".stripMargin

  /** F5 `stratified_sample` — per-language sampling rates via the same
    * deterministic hash (downsample the dominant language, keep more of
    * the rest — corpus rebalancing). Keep-decision is per-row against a
    * rate lookup; no shuffle. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rate = when($"lang" === "en", 10).otherwise(30)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", hashBucket($"doc_id", ":strat").as("bucket"))
      .filter($"bucket" < rate)
  }

  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, bucket
      |FROM (
      |  SELECT doc_id, lang,
      |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8)) AS BIGINT) % 100 AS bucket
      |  FROM documents)
      |WHERE bucket < CASE WHEN lang = 'en' THEN 10 ELSE 30 END""".stripMargin

  /** F10 `mixture_sample` — temperature-flattened corpus mixing: each
    * language keeps rate min(1, K/√n_lang), so dominant languages are
    * downsampled ∝ 1/√n while small ones pass whole — the standard
    * "raise the sampling temperature" rebalancing used when mixing
    * pre-training corpora (cf. multilingual α-sampling). The accept
    * decision is the same engine-portable md5 uniform as F4/F5 against
    * a per-language rate; rates come from one tiny aggregate broadcast
    * back, so the corpus itself never shuffles — at 100 TB this is a
    * scan with a 20-row build side. Rates (√, ÷ of exact integer
    * counts) are identically-rounded IEEE doubles in both engines, and
    * the uniform is an exact multiple of 2⁻³², so membership can't
    * flip between engines. The reported rate is an integer MICRO-rate
    * (⌊kr·10⁶⌋): ×, ⌊⌋ are single identically-rounded IEEE ops in both
    * engines, where decimal round(x, 6) is engine-specific (Spark
    * BigDecimal HALF_UP on the exact binary value vs DuckDB's scaled
    * multiply) and could split the gate on a tie. */
  def mixtureSample(spark: SparkSession, dir: String, k: Double = 5.0): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id", $"lang")
    val rates = docs.groupBy($"lang").agg(count(lit(1)).as("n_lang"))
      .select($"lang",
        least(lit(1.0), lit(k) / sqrt($"n_lang".cast("double"))).as("keep_rate"))
    val u = conv(substring(md5(concat($"doc_id".cast("string"), lit(":mix"))), 1, 8), 16, 10)
      .cast(LongType).cast("double") / lit(4294967296.0)
    docs.join(broadcast(rates), Seq("lang"))
      .filter(u < $"keep_rate")
      .select($"doc_id", $"lang", floor($"keep_rate" * 1e6).as("keep_rate_micros"))
  }

  def mixtureSampleSql(k: Double = 5.0): String =
    s"""WITH n AS (SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY 1),
       |r AS (SELECT lang, LEAST(1.0, $k / sqrt(CAST(n_lang AS DOUBLE))) AS kr FROM n)
       |SELECT d.doc_id, d.lang, CAST(floor(r.kr * 1e6) AS BIGINT) AS keep_rate_micros
       |FROM documents d JOIN r USING (lang)
       |WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 8)) AS BIGINT)
       |      / 4294967296.0 < r.kr""".stripMargin

  /** F21 `mixture_allocate` — exact token-budget apportionment across
    * languages: given a total training budget B tokens, allocate each
    * language a quota ∝ n_lang^0.5 (the XLM/mT5 temperature-sampling
    * exponent that upweights tail languages) using LARGEST-REMAINDER
    * (Hamilton) apportionment — ⌊B·wᵢ/Σw⌋ each, the L = B − Σ⌊·⌋
    * leftover seats to the largest remainders, ties by lang. The
    * pipeline artifact a training mix is built FROM (F10 samples to a
    * rate; this fixes exact integer token counts that sum to B).
    *
    * Engine parity: token counts are integers; sqrt/× /÷ are single
    * correctly-rounded IEEE ops (identical in both engines — F10's
    * proven posture), remainders quantize to 9dp before ranking
    * (F16's rank idiom) and ΣquotaTokens == B exactly by
    * construction. Scale: one corpus token-count agg; everything
    * after runs on a lang-cardinality frame (driver-metadata-sized
    * windows — never a corpus sort). */
  def mixtureAllocate(spark: SparkSession, dir: String,
                      budget: Long = 10000L): DataFrame =
    mixtureAllocateOf(Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text")), budget)

  /** Frame-based core of F21 (docs = (doc_id, lang, text)). */
  private[graft] def mixtureAllocateOf(docs: DataFrame, budget: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val counts = docs
      .select($"lang",
        when(length(trim($"text")) === 0, lit(0))
          .otherwise(size(split(trim($"text"), "\\s+"))).cast("long").as("n"))
      .groupBy($"lang").agg(sum($"n").as("n_tokens"))
      .withColumn("w", sqrt($"n_tokens".cast("double")))
    val tot = counts.agg(sum($"w").as("tw"), count(lit(1)).as("nl"))
    val q = counts.crossJoin(broadcast(tot))
      .withColumn("qraw", lit(budget.toDouble) * $"w" / $"tw")
      .withColumn("base", floor($"qraw").cast("long"))
      .withColumn("rem", round($"qraw" - $"base", 9))
    val leftover = q.agg((lit(budget) - sum($"base")).as("l"))
    val wRem = org.apache.spark.sql.expressions.Window
      .orderBy($"rem".desc, $"lang")
    q.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(wRem))
      .select($"lang", $"n_tokens",
        ($"base" + when($"rk" <= $"l", 1L).otherwise(0L)).as("quota_tokens"))
  }

  /** F21 oracle: identical counts, IEEE shares and largest-remainder
    * seats in DuckDB. */
  def mixtureAllocateSql(budget: Long = 10000L): String =
    s"""WITH counts AS (
       |  SELECT lang,
       |         CAST(SUM(CASE WHEN length(trim(text)) = 0 THEN 0
       |                  ELSE len(string_split_regex(trim(text), '\\s+')) END) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |sh AS (SELECT lang, n_tokens, sqrt(CAST(n_tokens AS DOUBLE)) AS w FROM counts),
       |tot AS (SELECT SUM(w) AS tw FROM sh),
       |q AS (
       |  SELECT lang, n_tokens,
       |         CAST($budget AS DOUBLE) * w / tot.tw AS qraw,
       |         CAST(floor(CAST($budget AS DOUBLE) * w / tot.tw) AS BIGINT) AS base
       |  FROM sh, tot),
       |lo AS (SELECT $budget - SUM(base) AS l FROM q),
       |rk AS (
       |  SELECT *, row_number() OVER (
       |    ORDER BY round(qraw - base, 9) DESC, lang) AS rk
       |  FROM q)
       |SELECT lang, n_tokens,
       |       base + CASE WHEN rk <= lo.l THEN 1 ELSE 0 END AS quota_tokens
       |FROM rk, lo""".stripMargin

  /** F16 `weighted_sample` — per-language WEIGHTED sampling without
    * replacement via the exponential race (Efraimidis-Spirakis A-Res /
    * Gumbel top-k): each doc draws the deterministic md5 uniform
    * u ∈ [0,1) and races with key −ln(1−u)/w, w = n_chars; the m
    * smallest keys per language win, so selection probability is
    * ∝ weight — importance sampling, the third sampling primitive
    * next to F5's uniform rates and F10's temperature rates (curation
    * by quality/length weight rather than by language mass alone).
    * One scan + one per-language top-m window; no shuffle wider than
    * the (lang)-keyed rank.
    *
    * The race key is quantized to 12dp BEFORE ranking (the C19
    * posture: both engines rank the same rounded value, ties break by
    * doc_id; a cross-engine libm ulp in ln() flips a rank only when
    * the true key sits within ~1 ulp of a rounding boundary —
    * measure-zero). The key itself never leaves the plan: the output
    * carries ids, weights and ranks only. */
  def weightedSample(spark: SparkSession, dir: String, m: Int = 5): DataFrame = {
    import spark.implicits._
    weightedSampleOf(Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"n_chars"), m)
  }

  /** Frame-based core of F16 (docs = (doc_id, lang, n_chars)) — lets
    * the spec measure the selection bias on a crafted weight split. */
  private[graft] def weightedSampleOf(docs: DataFrame, m: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val u = conv(substring(md5(concat($"doc_id".cast("string"), lit(":wres"))), 1, 12), 16, 10)
      .cast("double") / lit(281474976710656.0) // 16^12
    val key = round(-log(lit(1.0) - u) / $"n_chars".cast("double"), 12)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"key", $"doc_id")
    docs
      .select($"doc_id", $"lang", $"n_chars", key.as("key"))
      .withColumn("smp_rank", row_number().over(w))
      .filter($"smp_rank" <= m)
      .select($"doc_id", $"lang", $"n_chars", $"smp_rank")
  }

  def weightedSampleSql(m: Int = 5): String =
    s"""SELECT doc_id, lang, n_chars, CAST(smp_rank AS INT) AS smp_rank
       |FROM (
       |  SELECT doc_id, lang, n_chars,
       |         row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS smp_rank
       |  FROM (
       |    SELECT doc_id, lang, n_chars,
       |           round(-ln(1.0 - CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wres'), 1, 12)) AS BIGINT)
       |                           / 281474976710656.0)
       |                 / CAST(n_chars AS DOUBLE), 12) AS key
       |    FROM documents))
       |WHERE smp_rank <= $m""".stripMargin

  /** F17 `drift_report` — distribution-drift monitoring between two
    * event-time halves of the lake, per event type: the two-sample
    * Kolmogorov-Smirnov statistic over a fixed equal-width binning of
    * `value`, computed in EXACT integer arithmetic — the CDF gap
    * |c0/t0 − c1/t1| becomes (10⁶·|c0·t1 − c1·t0|) div (t0·t1), so
    * the reported micro-units hash-gate with no float compare. This
    * is the batch-over-batch data-quality check an incremental
    * pipeline runs on every new batch (did the value distribution
    * move?); here the "two batches" are the deterministic time halves
    * so the gate has a fixed answer. A type entirely absent from one
    * half reports max drift (10⁶) rather than dividing by zero.
    *
    * Scale: one scan (bin + half are per-row), one (type, half, bin)
    * hash-agg, then windows over the BIN-COUNT table (≤ types × bins
    * rows — metadata-sized). Counts are longs; at 10⁹⁺ events per
    * half the c·t product approaches Long range — production scales
    * the units or moves the gap to DECIMAL, the bins stay exact. */
  def driftReport(spark: SparkSession, dir: String, nBins: Int = 40): DataFrame = {
    import spark.implicits._
    driftReportOf(Tables.events(spark, dir).select($"event_type", $"value",
      unix_micros($"ts".cast("timestamp")).as("us")), nBins)
  }

  /** Frame-based core of F17 (ev = (event_type, value, us)). */
  private[graft] def driftReportOf(ev: DataFrame, nBins: Int = 40): DataFrame = {
    import ev.sparkSession.implicits._
    val bnd = ev.agg(min($"us").as("mn"), max($"us").as("mx"),
      min($"value").as("vlo"), max($"value").as("vhi"))
    val tagged = ev.crossJoin(broadcast(bnd))
      .withColumn("half", when(expr("us * 2 < mn + mx"), 0).otherwise(1))
      // -, /, * and floor on identical doubles are single
      // correctly-rounded IEEE ops — bin membership cannot differ
      // between engines (the F10 posture). A degenerate half-range
      // (every value identical) would divide 0/0 → NaN, which the two
      // engines treat differently at the INT cast — pin bin 0
      // explicitly instead.
      .withColumn("bin", when($"vhi" === $"vlo", lit(0))
        .otherwise(least(lit(nBins - 1),
          floor(($"value" - $"vlo") / ($"vhi" - $"vlo") * nBins))).cast("int"))
    val byBin = tagged.groupBy($"event_type", $"half", $"bin")
      .agg(count(lit(1)).as("n"))
      .groupBy($"event_type", $"bin")
      .agg(sum(when($"half" === 0, $"n").otherwise(lit(0L))).as("n0"),
        sum(when($"half" === 1, $"n").otherwise(lit(0L))).as("n1"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"bin")
    val cum = byBin
      .withColumn("c0", sum($"n0").over(w))
      .withColumn("c1", sum($"n1").over(w))
    cum
      .withColumn("t0", max($"c0").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .withColumn("t1", max($"c1").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"event_type")))
      .withColumn("gap", expr(
        "if(t0 = 0 or t1 = 0, cast(1000000 as bigint)," +
          " (1000000 * abs(c0 * t1 - c1 * t0)) div (t0 * t1))"))
      .groupBy($"event_type")
      .agg(max($"gap").as("ks_micros"),
        max($"t0").as("n_first"), max($"t1").as("n_second"))
  }

  def driftReportSql(nBins: Int = 40): String =
    s"""WITH ev AS (
      |  SELECT event_type, value, epoch_us(ts) AS us FROM events),
      |bnd AS (SELECT min(us) AS mn, max(us) AS mx,
      |               min(value) AS vlo, max(value) AS vhi FROM ev),
      |tagged AS (
      |  SELECT event_type,
      |         CASE WHEN us * 2 < mn + mx THEN 0 ELSE 1 END AS half,
      |         CASE WHEN vhi = vlo THEN 0
      |              ELSE LEAST(${nBins - 1},
      |                CAST(FLOOR((value - vlo) / (vhi - vlo) * $nBins) AS INT)) END AS bin
      |  FROM ev, bnd),
      |bybin AS (
      |  SELECT event_type, bin,
      |         CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
      |         CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
      |  FROM tagged GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, bin,
      |         CAST(SUM(n0) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS c0,
      |         CAST(SUM(n1) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS c1
      |  FROM bybin),
      |tot AS (
      |  SELECT *, MAX(c0) OVER (PARTITION BY event_type) AS t0,
      |            MAX(c1) OVER (PARTITION BY event_type) AS t1
      |  FROM cum)
      |SELECT event_type,
      |       MAX(CASE WHEN t0 = 0 OR t1 = 0 THEN CAST(1000000 AS BIGINT)
      |                ELSE (1000000 * abs(c0 * t1 - c1 * t0)) // (t0 * t1) END) AS ks_micros,
      |       CAST(MAX(t0) AS BIGINT) AS n_first,
      |       CAST(MAX(t1) AS BIGINT) AS n_second
      |FROM tot GROUP BY 1""".stripMargin

  /** F22 `source_overlap` — pairwise CONTENT-overlap estimation between
    * sources via k-minimum-values sketches (Beyer et al., SIGMOD 2007;
    * the KMV/theta-sketch family): each source's word-3-gram shingle
    * set compresses to its k smallest 48-bit md5 hashes, and any pair's
    * Jaccard is estimated from the two sketches alone — the way a
    * 100 TB shop sizes cross-crawl duplication BEFORE paying for a
    * full cross-corpus dedup (C4b): sketches are corpus-pass-once,
    * mergeable, and pair comparison never touches the corpus again.
    * Estimator: over the k smallest distinct hashes of the UNION of
    * two sketches, d = how many live in both; Ĵ = d/k' (k' = union
    * sketch size, < k only when the union itself is smaller). Output
    * carries integer (d, k', ppm) — deterministic md5 hashing makes
    * the whole estimator ENGINE-EXACT, so an approximate sketch still
    * hash-gates (the repo's standing sketch posture); accuracy vs the
    * exact shingle Jaccard (~1/√k standard error) is spec-graded.
    *
    * Scale: one corpus scan → distinct (source, h) hash agg (C4's
    * shingle volume class) → the bounded-memory k-heap aggregate
    * ([[graft.functions.TopKAgg]] — map-side k-sized partials, O(k)
    * merges, never a per-source sort); everything after runs on the
    * S·k-row sketch table (S = #sources — snapshot/top-domain
    * cardinality, a bounded comparison panel by contract, like the
    * C23 query panels; the S×S pair cross is label-only and declared).
    * 48-bit hashes (not 56) because the heap orders doubles: 2^48 fits
    * a double's 53-bit mantissa exactly. */
  def sourceOverlap(spark: SparkSession, dir: String, k: Int = 128): DataFrame =
    sourceOverlapOf(Tables.documents(spark, dir)
      .select(col("source"), col("text")), k)

  /** Frame-based core of F22 (docs = (source, text)) — lets the spec
    * plant identical / disjoint sources and grade estimator accuracy. */
  private[graft] def sourceOverlapOf(docs: DataFrame, k: Int): DataFrame =
    // eager: the S·k-row sketch feeds both pair legs
    sketchPairs(sourceSketch(docs, k).localCheckpoint(), k)

  /** The per-source KMV sketch of a (source, text) frame: each
    * source's k smallest 48-bit shingle hashes — the mergeable state
    * F22 estimates from and E27 folds micro-batches into. */
  private[graft] def sourceSketch(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    kmvTop(docs
      .withColumn("w", when(length(trim($"text")) === 0, array().cast("array<string>"))
        .otherwise(split(trim($"text"), "\\s+")))
      .filter(size($"w") >= 3)
      .select($"source", explode(expr(
        "transform(sequence(0, size(w)-3), i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("g"))
      .select($"source",
        conv(substring(md5($"g"), 1, 12), 16, 10).cast("long").as("h")), k)
  }

  /** KMV MERGE: k smallest distinct hashes per source of any union of
    * sketch/hash rows. Associative and idempotent — k-smallest(A ∪ B)
    * == k-smallest(k-smallest(A) ∪ B) — which is why N micro-batch
    * folds serve the one-shot answer EXACTLY (E27's gate). */
  private[graft] def kmvTop(sh: DataFrame, k: Int): DataFrame = {
    import sh.sparkSession.implicits._
    sh.groupBy($"source", $"h").agg(count(lit(1)).as("c")).drop("c")
      .groupBy($"source")
      // k SMALLEST distinct hashes: the heap keeps top-k by value desc,
      // so feed -h (exact in double — h < 2^48); inputs are distinct
      // per group, so the id tiebreak never fires
      .agg(graft.functions.TopKAgg.topk(-$"h".cast("double"), $"h", k).as("top"))
      .select($"source", explode($"top").as("e"))
      .select($"source", $"e.id".as("h"))
  }

  /** Pairwise KMV-Jaccard estimates over a (source, h) sketch table
    * (≤ S·k rows — nothing here ever re-touches the corpus). */
  private[graft] def sketchPairs(skt: DataFrame, k: Int): DataFrame = {
    import skt.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val srcs = skt.select($"source").distinct()
    val pairs = srcs.select($"source".as("src_a"))
      .crossJoin(srcs.select($"source".as("src_b")))
      .filter($"src_a" < $"src_b")
    val ra = pairs.join(skt.select($"source".as("src_a"), $"h"), Seq("src_a"))
      .select($"src_a", $"src_b", $"h", lit(1).as("ina"), lit(0).as("inb"))
    val rb = pairs.join(skt.select($"source".as("src_b"), $"h"), Seq("src_b"))
      .select($"src_a", $"src_b", $"h", lit(0).as("ina"), lit(1).as("inb"))
    val u = ra.union(rb).groupBy($"src_a", $"src_b", $"h")
      .agg(max($"ina").as("ina"), max($"inb").as("inb"))
    val wp = Window.partitionBy($"src_a", $"src_b").orderBy($"h")
    u.withColumn("ur", row_number().over(wp))
      .filter($"ur" <= k)
      .groupBy($"src_a", $"src_b")
      .agg(sum(($"ina" * $"inb").cast("long")).as("d"), count(lit(1)).as("ku"))
      .select($"src_a", $"src_b", $"d", $"ku",
        expr("(1000000L * d) div ku").as("est_jaccard_ppm"))
  }

  /** F22 oracle: identical shingles, 48-bit md5 hashes, per-source
    * k-smallest rank, union-top-k intersection count in DuckDB. */
  def sourceOverlapSql(k: Int = 128): String =
    s"""WITH docs AS (
       |  SELECT source, string_split_regex(trim(text), '\\s+') AS w
       |  FROM documents WHERE length(trim(text)) > 0),
       |hx AS (
       |  SELECT DISTINCT source,
       |         CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) AS h
       |  FROM (SELECT source, unnest(list_transform(range(len(w)-2),
       |               i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3])) AS g
       |        FROM docs WHERE len(w) >= 3)),
       |skt AS (
       |  SELECT source, h FROM (
       |    SELECT source, h,
       |           row_number() OVER (PARTITION BY source ORDER BY h) AS rn
       |    FROM hx) WHERE rn <= $k),
       |srcs AS (SELECT DISTINCT source FROM skt),
       |pairs AS (SELECT a.source AS sa, b.source AS sb
       |          FROM srcs a, srcs b WHERE a.source < b.source),
       |u AS (
       |  SELECT p.sa, p.sb, s.h,
       |         MAX(CASE WHEN s.source = p.sa THEN 1 ELSE 0 END) AS ina,
       |         MAX(CASE WHEN s.source = p.sb THEN 1 ELSE 0 END) AS inb
       |  FROM pairs p JOIN skt s ON s.source IN (p.sa, p.sb)
       |  GROUP BY 1, 2, 3),
       |r AS (SELECT *, row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS ur
       |      FROM u)
       |SELECT sa AS src_a, sb AS src_b,
       |       CAST(SUM(ina * inb) AS BIGINT) AS d,
       |       COUNT(*) AS ku,
       |       (1000000 * CAST(SUM(ina * inb) AS BIGINT)) // COUNT(*) AS est_jaccard_ppm
       |FROM r WHERE ur <= $k GROUP BY 1, 2""".stripMargin

  /** F6 `sentence_stats` — sentence segmentation statistics per doc.
    * The synthetic corpus has no punctuation, so sentences are derived
    * by splitting on the literal token ' the ' (deterministic and
    * expressible identically in SQL); real corpora split on [.!?]+ the
    * same way. Explode → per-doc partial agg. */
  def sentenceStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select($"doc_id", explode(split($"text", " the ")).as("sent"))
      .filter(trim($"sent") =!= "")
      .select($"doc_id", size(split(trim($"sent"), "\\s+")).as("n_words"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sentences"),
        avg($"n_words".cast("double")).as("avg_words"),
        max($"n_words").as("max_words"))
  }

  val sentenceStatsSql: String =
    """SELECT doc_id, COUNT(*) AS n_sentences,
      |       SUM(CAST(n_words AS DOUBLE)) / COUNT(*) AS avg_words,
      |       CAST(MAX(n_words) AS INT) AS max_words
      |FROM (
      |  SELECT doc_id, len(string_split_regex(trim(sent), '\s+')) AS n_words
      |  FROM (SELECT doc_id, unnest(string_split(text, ' the ')) AS sent FROM documents)
      |  WHERE trim(sent) <> '')
      |GROUP BY doc_id""".stripMargin

  /** F8 `pack_sequences` — pack documents into fixed-token-budget
    * training sequences: within each (lang, shard) stream, docs are
    * laid out in doc_id order and a new sequence starts every
    * `seqTokens` tokens of cumulative offset (greedy packing, docs
    * never split). Output: one row per packed sequence with doc count,
    * token sum and doc-id range — the manifest a tokenizer/sharder
    * consumes.
    *
    * Scale: production packers pack per shard INDEPENDENTLY — that is
    * what makes this embarrassingly parallel: the window is
    * partitioned by (lang, shard), so no global ordering, no
    * single-partition window. More shards = more parallelism; the
    * packing stays deterministic because shard and order derive from
    * doc_id. */
  def packSequences(spark: SparkSession, dir: String, seqTokens: Int = 2048,
                    nShards: Int = 4): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"shard").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", ($"doc_id" % nShards).as("shard"),
        when(length(trim($"text")) === 0, 0)
          .otherwise(size(split(trim($"text"), "\\s+"))).cast("long").as("n_tokens"))
      .withColumn("start_off", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("seq_idx", floor($"start_off" / seqTokens).cast("long"))
      .groupBy($"lang", $"shard", $"seq_idx")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
  }

  def packSequencesSql(seqTokens: Int = 2048, nShards: Int = 4): String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, doc_id % $nShards AS shard,
       |         CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       |              ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS n_tokens
       |  FROM documents),
       |offs AS (
       |  SELECT *, COALESCE(SUM(n_tokens) OVER (
       |           PARTITION BY lang, shard ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
       |  FROM toks)
       |SELECT lang, shard, CAST(FLOOR(start_off / $seqTokens.0) AS BIGINT) AS seq_idx,
       |       COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       |FROM offs GROUP BY 1, 2, 3""".stripMargin

  /** F9 `capped_per_group` — deterministic per-group sample cap: keep
    * at most `cap` docs per (lang, source) cell, chosen by md5-hash
    * order (a deterministic, reprocessing-stable stand-in for uniform
    * random choice — the reservoir-sampling analogue for batch). The
    * class-balancing primitive: caps dominant cells, keeps small cells
    * whole.
    *
    * Scale: one shuffle on the group key; the rank window is per cell,
    * bounded by cell size. For pathological hot cells, pre-aggregate a
    * count and short-circuit cells under the cap (they need no window
    * at all) — same output, window only over the heavy tail. */
  def cappedPerGroup(spark: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang", $"source")
      .orderBy(md5(concat($"doc_id".cast("string"), lit(":cap"))), $"doc_id")
    Tables.documents(spark, dir)
      .select($"doc_id", $"lang", $"source")
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= cap)
      .select($"doc_id", $"lang", $"source", $"rk")
  }

  def cappedPerGroupSql(cap: Int = 10): String =
    s"""SELECT doc_id, lang, source, CAST(rk AS INT) AS rk
       |FROM (
       |  SELECT doc_id, lang, source,
       |         row_number() OVER (
       |           PARTITION BY lang, source
       |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':cap'), doc_id) AS rk
       |  FROM documents)
       |WHERE rk <= $cap""".stripMargin

  /** Extension `corpus_shard` — deterministic shuffle-and-shard of the
    * corpus for training ingestion: every doc gets a pseudo-random
    * 48-bit key (md5-derived, engine-portable like F4/F5), a shard =
    * key mod N, and a POSITION within its shard in key order — the
    * "globally shuffle, then split into N ordered shards" step a
    * training pipeline runs last. Deterministic and
    * reprocessing-stable: same corpus → same shard files, any
    * partitioning, any day.
    *
    * Scale: the within-shard position is NOT one window per shard
    * (N partitions would make each shard's rank a single task sorting
    * corpus/N rows — the vocab_build trap). Same banded two-pass rank
    * idiom as [[TextAnalysis.vocabBuild]]: band = key's top 8 bits
    * (monotone in key, uniform under md5), a ≤ N·256-row per-(shard,
    * band) count aggregate yields rank offsets through a broadcast
    * inequality self-join, and row_number runs per (shard, band) —
    * parallel across 256·N windows, each ~corpus/(256·N) rows. Global
    * pos = band offset + in-band rank, exact because bands partition
    * the (key, doc_id) order. The keyed scan is consumed by the tiny
    * count aggregate and the ranked main path; it is a one-column
    * parquet scan + md5 projection, recomputed rather than
    * materialized (checkpointing a corpus-sized frame to save a
    * column scan is the wrong trade at 100 TB). */
  // no fanout(): the rank window's own (shard, band) shuffle is what
  // distributes the work — a forced full-corpus repartition before it
  // would be a second corpus-wide exchange for nothing
  def corpusShard(spark: SparkSession, dir: String, nShards: Int = 8): DataFrame =
    shardBy(Tables.documents(spark, dir).select(col("doc_id")), nShards)

  /** [[corpusShard]]'s core over an arbitrary frame with a `doc_id`
    * column (extra columns ride along) — shared with
    * `pipeline_training_manifest`, which shards the curated survivor
    * set rather than the raw corpus. */
  private[graft] def shardBy(docs: DataFrame, nShards: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val inCols = docs.columns.map(col).toSeq
    val keyed = docs
      .withColumn("skey",
        conv(substring(md5(concat($"doc_id".cast("string"), lit(":shard"))), 1, 12), 16, 10)
          .cast(LongType))
      .withColumn("shard", ($"skey" % nShards).cast("int"))
      .withColumn("band", shiftright($"skey", 40).cast("int"))
    // ≤ N·256 rows regardless of corpus size
    val bandCnt = keyed.groupBy($"shard", $"band").agg(count(lit(1)).as("cnt"))
    val lower = bandCnt.select($"shard".as("ls"), $"band".as("lb"), $"cnt".as("lc"))
    val off = bandCnt.join(broadcast(lower),
        $"ls" === $"shard" && $"lb" < $"band", "left")
      .groupBy($"shard", $"band")
      .agg(coalesce(sum($"lc"), lit(0L)).as("off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"shard", $"band").orderBy($"skey", $"doc_id")
    keyed.join(broadcast(off), Seq("shard", "band"))
      .withColumn("pos", ($"off" + row_number().over(w)).cast("int"))
      .select(inCols ++ Seq($"shard", $"pos"): _*)
  }

  def corpusShardSql(nShards: Int = 8): String =
    s"""WITH keyed AS (
       |  SELECT doc_id,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 12)) AS BIGINT) AS skey
       |  FROM documents)
       |SELECT doc_id, CAST(skey % $nShards AS INT) AS shard,
       |       CAST(row_number() OVER (
       |         PARTITION BY skey % $nShards ORDER BY skey, doc_id) AS INT) AS pos
       |FROM keyed""".stripMargin

  /** F20 `curriculum_order` — deterministic easy→hard curriculum
    * ordering for training ingestion (Bengio et al. 2009's curriculum
    * learning, in the form LM pipelines actually ship: order the
    * corpus by a difficulty signal, shuffle WITHIN difficulty bands so
    * no batch is pathologically ordered): difficulty = C21's unigram
    * perplexity in integer micro-units, band = whole bits-per-token
    * (⌊bits_micros div 10⁶⌋ — monotone in difficulty), within-band
    * order = the F4/F11 md5 pseudo-random key, and `train_pos` = the
    * doc's exact global position in (band, key) order. Same corpus →
    * same training order, any partitioning, any day.
    *
    * Scale: the global position is NOT one corpus-wide window — the
    * [[shardBy]] banded two-pass rank, partitioned by (band, key's
    * top 8 bits): per-(band, sub) counts (≤ bands·256 rows) yield
    * offsets through a broadcast inequality self-join and row_number
    * runs per (band, sub) — exact because (band, sub) prefixes the
    * (band, key) order. Token-free docs have no difficulty and are
    * absent (C21's tokenize join). */
  def curriculumOrder(spark: SparkSession, dir: String): DataFrame =
    curriculumOrderOf(Tables.fanout(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))),
      scored = Some(TextAnalysis.pplScoresFor(spark, dir)))

  /** Frame-based core of F20 (docs = (doc_id, text)). */
  private[graft] def curriculumOrderOf(docs: DataFrame,
                                       scored: Option[DataFrame] = None): DataFrame = {
    import docs.sparkSession.implicits._
    val keyed = scored.getOrElse(TextAnalysis.perplexityOf(docs))
      .select($"doc_id",
        floor($"bits_per_token" * lit(1e6) + lit(0.5)).cast("long").as("bits_micros"))
      .withColumn("band", expr("bits_micros div 1000000").cast("int"))
      .withColumn("ukey",
        conv(substring(md5(concat($"doc_id".cast("string"), lit(":curr"))), 1, 12), 16, 10)
          .cast(LongType))
      .withColumn("sub", shiftright($"ukey", 40).cast("int"))
    val bandCnt = keyed.groupBy($"band", $"sub").agg(count(lit(1)).as("cnt"))
    val lower = bandCnt.select($"band".as("lb"), $"sub".as("ls"), $"cnt".as("lc"))
    val off = bandCnt.join(broadcast(lower),
        $"lb" < $"band" || ($"lb" === $"band" && $"ls" < $"sub"), "left")
      .groupBy($"band", $"sub")
      .agg(coalesce(sum($"lc"), lit(0L)).as("off"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"band", $"sub").orderBy($"ukey", $"doc_id")
    keyed.join(broadcast(off), Seq("band", "sub"))
      .withColumn("train_pos", ($"off" + row_number().over(w)).cast("int"))
      .select($"doc_id", $"bits_micros", $"band", $"train_pos")
  }

  /** F20 oracle: identical difficulty/band/key arithmetic; the global
    * position is one ordered window (the oracle may sort — the engine
    * may not). */
  def curriculumOrderSql(): String =
    s"""WITH ppl AS (${TextAnalysis.perplexityScoreSql}),
       |keyed AS (
       |  SELECT doc_id,
       |         CAST(floor(bits_per_token * 1e6 + 0.5) AS BIGINT) AS bits_micros,
       |         CAST(CAST(floor(bits_per_token * 1e6 + 0.5) AS BIGINT) // 1000000 AS INT) AS band,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':curr'), 1, 12)) AS BIGINT) AS ukey
       |  FROM ppl)
       |SELECT doc_id, bits_micros, band,
       |       CAST(row_number() OVER (ORDER BY band, ukey, doc_id) AS INT) AS train_pos
       |FROM keyed""".stripMargin

  /** Extension `pipeline_training_manifest` — the END-TO-END curation
    * chain a pre-training data pipeline ships, as ONE declarative
    * plan: near-dup clusters keep their best-quality representative
    * (`dedup_keep_best`), benchmark-contaminated docs and the
    * benchmark members themselves drop (`decontaminate`), the mix is
    * temperature-rebalanced per language (`mixture_sample`), and the
    * surviving corpus is deterministically shuffled into N ordered
    * training shards ([[shardBy]], the banded rank — no
    * single-partition window). Output: (doc_id, lang, shard, pos) —
    * the manifest a training job reads shard-by-shard.
    *
    * Scale: each stage keeps its own audited shape (the heavy text
    * scans happen once per stage, never per pair of stages), and the
    * stages compose through id-only semi/anti joins — after a stage's
    * own scan, only doc_id sets move between stages. Catalyst plans
    * the whole chain as one DAG, so scan pruning/pushdown still apply
    * stage-locally. */
  def trainingManifest(spark: SparkSession, dir: String,
                       nShards: Int = 8): DataFrame = {
    import spark.implicits._
    // dedup decision over the doubled corpus; manifest universe is the
    // real documents, so a doc survives iff its ORIGINAL id is kept
    // (copies lose to their original on the quality tiebreak). Only
    // the keeper ID SET is needed here — keepBestIds skips the
    // full keep_best member join-back.
    val keepers = NearDup.keepBestIds(spark, dir)
      .filter($"doc_id" < NearDup.BigOffset)
    val contaminated = decontaminate(spark, dir).select($"doc_id")
    val mixed = mixtureSample(spark, dir).select($"doc_id", $"lang")
    val survivors = mixed
      .filter($"doc_id" % BenchMod =!= 0) // benchmark members never train
      .join(keepers, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
    shardBy(survivors, nShards)
  }

  def trainingManifestSql(nShards: Int = 8): String =
    s"""WITH keepers AS (
       |  SELECT doc_id FROM (${NearDup.dedupKeepBestSql()})
       |  WHERE keep AND doc_id < ${NearDup.BigOffset}),
       |contaminated AS (SELECT doc_id FROM (${decontaminateSql()})),
       |mixed AS (SELECT doc_id, lang FROM (${mixtureSampleSql()})),
       |survivors AS (
       |  SELECT m.doc_id, m.lang FROM mixed m
       |  JOIN keepers k ON k.doc_id = m.doc_id
       |  LEFT JOIN contaminated c ON c.doc_id = m.doc_id
       |  WHERE c.doc_id IS NULL AND m.doc_id % $BenchMod <> 0),
       |keyed AS (
       |  SELECT doc_id, lang,
       |         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':shard'), 1, 12)) AS BIGINT) AS skey
       |  FROM survivors)
       |SELECT doc_id, lang, CAST(skey % $nShards AS INT) AS shard,
       |       CAST(row_number() OVER (
       |         PARTITION BY skey % $nShards ORDER BY skey, doc_id) AS INT) AS pos
       |FROM keyed""".stripMargin

  /** F7 `csv_ingest` — CSV round-trip with schema enforcement
    * (`to_csv` → `from_csv`), the delimited-text sibling of A13's
    * jsonl ingest: schema enforced at parse, the aggregate proves the
    * trip is lossless. At scale: `spark.read.schema(s).csv(path)` with
    * corrupt-record quarantine, exactly like the Lake jsonl source. */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("n_chars", LongType)))
    Tables.documents(spark, dir)
      .select(to_csv(struct($"doc_id", $"lang", $"n_chars")).as("line"))
      .select(from_csv($"line", schema, Map.empty[String, String]).as("rec"))
      .select($"rec.lang".as("lang"), $"rec.n_chars".as("n_chars"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("sum_chars"))
  }

  val csvRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** 16-bit → even-bit spread (x₁₅…x₀ → 0x₁₅0x₁₄…0x₀), the Morton
    * building block: four shift-or-mask rounds, pure codegen'd long
    * arithmetic. Interleave = spread(x) | spread(y) << 1. */
  private def spreadBits(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** F13 `zorder_layout` — Z-order (Morton-curve) file-layout manifest:
    * the multi-dimensional data-skipping layout a 100 TB lake runs as
    * maintenance (Delta `OPTIMIZE ZORDER BY`, Iceberg sort orders).
    * Sorting by ONE column prunes files on that column only; sorting by
    * the interleaved bits of TWO columns gives every file a small
    * rectangle in (x, y) space, so min/max file stats prune scans
    * filtering on EITHER dimension. Here: lineitem laid out by
    * (l_partkey, l_suppkey) → (row key, zval, file_id), the manifest a
    * rewrite job would apply.
    *
    * Shape: each dim is min-max scaled to 16 bits (the scalar bounds
    * row is a 1-row aggregate, broadcast via the declared scalar-cross
    * pattern — at scale the bounds come free from table stats), the
    * Morton code is four shift-or-mask rounds per dim (codegen'd long
    * arithmetic, no UDF), and the file assignment is rank-by-zval
    * chunked into `rowsPerFile` — computed with the C18/F11 banded
    * two-pass rank (band = zval's top 8 bits, monotone in zval):
    * a ≤256-row per-band count aggregate, offsets via a cumulative
    * window OVER THAT AGGREGATE (≤256 tiny rows through the
    * single-partition exchange — same bounded class as the scalar
    * combine), then row_number per band. No global sort, no
    * single-partition pass over data-sized input, any SF. */
  def zorderLayout(spark: SparkSession, dir: String,
                   rowsPerFile: Int = 4096): DataFrame =
    // memoized + materialized per (session, dir, rowsPerFile): the
    // layout manifest is written ONCE by the rewrite job and then READ
    // by its consumers (`stats_prune` prunes scans with it) — in one
    // process the memo plays the part of that table (same posture as
    // the near-dup edge memo and the IVF index)
    Artifacts.value(spark, Artifacts.ZorderLayout, dir, rowsPerFile) {
      zorderLayoutBuild(spark, dir, rowsPerFile).localCheckpoint()
    }

  private[graft] def zorderLayoutBuild(spark: SparkSession, dir: String,
                                       rowsPerFile: Int): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val bounds = li.agg(
      min($"l_partkey").as("minx"), max($"l_partkey").as("maxx"),
      min($"l_suppkey").as("miny"), max($"l_suppkey").as("maxy"))
    val z = li.crossJoin(broadcast(bounds))
      .withColumn("zx", expr("((l_partkey - minx) * 65535) div greatest(1L, maxx - minx)"))
      .withColumn("zy", expr("((l_suppkey - miny) * 65535) div greatest(1L, maxy - miny)"))
      // coalesce can never fire (the divisor is clamped ≥1) but flips
      // zval's NULLABILITY off, which matters enormously: the inner
      // join on band otherwise infers isnotnull(band), and pushdown
      // inlines the WHOLE Morton expression — un-CSE'd, interpreted —
      // into the nested-loop join's condition (measured 14x on the
      // scan stage: 7.2 s vs 0.5 s). Non-nullable zval lets the
      // optimizer fold the inferred filter to true instead.
      .withColumn("zval", coalesce(
        spreadBits($"zx").bitwiseOR(shiftleft(spreadBits($"zy"), 1)), lit(0L)))
      .withColumn("band", shiftright($"zval", 24).cast("int"))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"zval", $"band")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"band").rowsBetween(Long.MinValue, -1)
    val off = z.groupBy($"band").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum($"cnt").over(w), lit(0L)))
      .select($"band", $"off")
    // rank order is TOTAL over the output columns (the synthetic
    // lineitem has duplicate (orderkey, linenumber) pairs): rows still
    // tied after all five are identical in every emitted column, so
    // whichever side of a file boundary each lands on, the output
    // MULTISET — what the gate hashes — is engine-independent
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy($"band").orderBy($"zval", $"l_orderkey", $"l_linenumber",
        $"l_partkey", $"l_suppkey")
    z.join(broadcast(off), Seq("band"))
      .withColumn("pos", $"off" + row_number().over(rw))
      .withColumn("file_id", expr(s"cast((pos - 1) div $rowsPerFile as int)"))
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
        $"zval", $"file_id")
  }

  /** F14 `compaction_plan` — small-file bin packing: the OTHER half of
    * lake maintenance next to F13's layout. Input is a file inventory
    * (here: documents as the stand-in — id + byte size); every file
    * gets its exclusive running byte offset in id order, and
    * bin = start_off div target — files whose start offset falls in
    * [k·target, (k+1)·target) compact into output file k. Every bin's
    * payload lands within one max-file-size of the target (the spec
    * asserts it), which is exactly the sequential coalescing an
    * OPTIMIZE/compaction job plans — deterministic, reproducible,
    * no driver-side loop over the listing.
    *
    * Scale: the running offset is the C18/F11 banded two-pass pattern
    * applied to a SUM instead of a rank — band = id div 1000, per-band
    * byte totals (inventory/1000 rows) cumsum'd via a window over that
    * aggregate, then an in-band exclusive running sum per band. The
    * inventory is metadata (~10⁶ rows per 10⁹ data rows), so the
    * band aggregate through the single-partition window is thousands
    * of rows, the same bounded class as the scalar combines. No
    * scalar cross at all — the only join is the broadcast band-offset
    * equi-join. */
  def compactionPlan(spark: SparkSession, dir: String,
                     targetBytes: Long = 16384L): DataFrame = {
    import spark.implicits._
    val f = Tables.documents(spark, dir)
      .select($"doc_id", $"n_chars".cast("long").as("size"))
      .withColumn("band", expr("doc_id div 1000"))
    val bandTot = f.groupBy($"band").agg(sum($"size").as("btot"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy($"band").rowsBetween(Long.MinValue, -1)
    val off = bandTot
      .withColumn("boff", coalesce(sum($"btot").over(w), lit(0L)))
      .select($"band", $"boff")
    val rw = org.apache.spark.sql.expressions.Window
      .partitionBy($"band").orderBy($"doc_id").rowsBetween(Long.MinValue, -1)
    f.join(broadcast(off), Seq("band"))
      .withColumn("start_off", $"boff" + coalesce(sum($"size").over(rw), lit(0L)))
      .withColumn("bin_id", expr(s"cast(start_off div $targetBytes as int)"))
      .select($"doc_id", $"size", $"start_off", $"bin_id")
  }

  def compactionPlanSql(targetBytes: Long = 16384L): String =
    s"""WITH f AS (
       |  SELECT doc_id, CAST(n_chars AS BIGINT) AS size FROM documents),
       |c AS (
       |  SELECT doc_id, size,
       |         CAST(COALESCE(SUM(size) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
       |  FROM f)
       |SELECT doc_id, size, start_off,
       |       CAST(start_off // $targetBytes AS INT) AS bin_id
       |FROM c""".stripMargin

  /** F15 `stats_prune` — the CONSUMER of F13's layout manifest: build
    * the per-file min/max stats table over (l_partkey, l_suppkey) and
    * emit the file SURVIVOR SET for a conjunctive 2-D box predicate —
    * exactly the data-skipping read a lakehouse scan planner does with
    * file stats (Delta/Iceberg min-max pruning). The predicate is the
    * corner box [min, min + range/8] on each dimension, derived from
    * the data with integer arithmetic so engine and oracle agree
    * exactly at any SF. Each surviving file carries its stats plus
    * `n_match`, the rows inside it actually satisfying the predicate —
    * so the gate checks the pruning DECISION and the spec can assert
    * the pruned read equals the full-scan filter (no row lost: a
    * pruned file's bbox is disjoint from the box, so it cannot hold a
    * matching row) and measure files-touched as a count, not a
    * bbox-area proxy.
    *
    * Scale: reads the memoized layout (at cluster scale: the manifest
    * table), two hash aggregates over it (stats per file ~ metadata
    * volume, matches per file), one broadcast of the 1-row predicate —
    * no data-sized shuffle beyond the per-file aggregates. */
  def statsPrune(spark: SparkSession, dir: String,
                 rowsPerFile: Int = 4096): DataFrame = {
    import spark.implicits._
    val layout = zorderLayout(spark, dir, rowsPerFile)
    val stats = layout.groupBy($"file_id")
      .agg(count(lit(1)).as("n_rows"),
        min($"l_partkey").as("min_pk"), max($"l_partkey").as("max_pk"),
        min($"l_suppkey").as("min_sk"), max($"l_suppkey").as("max_sk"))
    val pred = layout.agg(
        min($"l_partkey").as("pmin"), max($"l_partkey").as("pmax"),
        min($"l_suppkey").as("smin"), max($"l_suppkey").as("smax"))
      .select(
        $"pmin".as("p_lo"), expr("pmin + (pmax - pmin) div 8").as("p_hi"),
        $"smin".as("s_lo"), expr("smin + (smax - smin) div 8").as("s_hi"))
    val matches = layout.crossJoin(broadcast(pred))
      .filter($"l_partkey".between($"p_lo", $"p_hi") &&
        $"l_suppkey".between($"s_lo", $"s_hi"))
      .groupBy($"file_id").agg(count(lit(1)).as("n_match"))
    stats.crossJoin(broadcast(pred))
      .filter($"min_pk" <= $"p_hi" && $"max_pk" >= $"p_lo" &&
        $"min_sk" <= $"s_hi" && $"max_sk" >= $"s_lo")
      .join(matches, Seq("file_id"), "left")
      .select($"file_id", $"n_rows", $"min_pk", $"max_pk", $"min_sk", $"max_sk",
        coalesce($"n_match", lit(0L)).as("n_match"))
  }

  def statsPruneSql(rowsPerFile: Int = 4096): String =
    s"WITH layout AS (SELECT * FROM (\n${zorderLayoutSql(rowsPerFile)}\n) zq),\n" +
    """stats AS (
      |  SELECT file_id, COUNT(*) AS n_rows,
      |         MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
      |         MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
      |  FROM layout GROUP BY 1),
      |pred AS (
      |  SELECT MIN(l_partkey) AS p_lo,
      |         MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 8 AS p_hi,
      |         MIN(l_suppkey) AS s_lo,
      |         MIN(l_suppkey) + (MAX(l_suppkey) - MIN(l_suppkey)) // 8 AS s_hi
      |  FROM layout),
      |m AS (
      |  SELECT file_id, COUNT(*) AS n_match
      |  FROM layout, pred
      |  WHERE l_partkey BETWEEN p_lo AND p_hi AND l_suppkey BETWEEN s_lo AND s_hi
      |  GROUP BY 1)
      |SELECT s.file_id, s.n_rows, s.min_pk, s.max_pk, s.min_sk, s.max_sk,
      |       CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_match
      |FROM stats s CROSS JOIN pred p
      |LEFT JOIN m ON m.file_id = s.file_id
      |WHERE s.min_pk <= p.p_hi AND s.max_pk >= p.p_lo
      |  AND s.min_sk <= p.s_hi AND s.max_sk >= p.s_lo""".stripMargin

  /** Materialize F13's layout manifest as an ACTUAL partition-per-file
    * parquet lake at `path` (`file_id` = partition directory; the
    * pre-write repartition on the partition value makes each directory
    * exactly one parquet file) — the rewrite job that turns the
    * manifest into physical layout. */
  def zorderWrite(spark: SparkSession, dir: String, path: String,
                  rowsPerFile: Int = 4096): Unit =
    zorderLayout(spark, dir, rowsPerFile)
      .repartition(col("file_id"))
      .write.partitionBy("file_id").mode("overwrite").parquet(path)

  /** The data-skipping READ over a [[zorderWrite]] lake: scan only the
    * survivor `file_id`s from F15's pruning decision. `file_id` is a
    * PARTITION column, so Catalyst prunes the skipped directories at
    * planning time — their files are never opened; the scan's
    * `numFiles` metric equals the survivor count (GovernSpec measures
    * it). The survivor list is driver-side metadata BY DESIGN: planning
    * a scan from file stats is what a lakehouse driver does with its
    * manifest (Delta/Iceberg); its size is O(files), never O(rows). */
  def prunedScan(spark: SparkSession, path: String, survivors: Seq[Int]): DataFrame =
    spark.read.parquet(path).filter(col("file_id").isin(survivors: _*))

  /** Build and register the per-file min/max stats of a [[zorderWrite]]
    * lake with [[graft.plans.StatsPruneRegistry]], so
    * [[graft.plans.StatsPruneRule]] auto-prunes any filtered scan of
    * `path` — the reader keeps writing plain
    * `spark.read.parquet(path).filter(...)` and never mentions
    * `file_id`. One metadata-sized aggregate scan per registration (the
    * "collect file stats into the manifest" half of a lakehouse write
    * job; at cluster scale the writer emits these stats inline). */
  def registerLakeStats(spark: SparkSession, path: String,
                        cols: Seq[String]): Unit = {
    val aggs = cols.flatMap(c => Seq(min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    val rows = spark.read.parquet(path)
      .groupBy(col("file_id")).agg(aggs.head, aggs.tail: _*).collect()
    val stats = rows.map { r =>
      graft.plans.StatsPruneRegistry.FileStats(
        r.getAs[Number]("file_id").intValue(),
        // a column whose min/max is NULL for this file (all-null
        // values) or of an unsupported type contributes no bound —
        // the rule treats a missing bound as "cannot prune on this
        // column", which is the sound default. Integral and STRING
        // bounds both register (string predicates are the dominant
        // lakehouse shape: category/lang/status filters).
        cols.flatMap { c =>
          (r.getAs[Any](s"mn_$c"), r.getAs[Any](s"mx_$c")) match {
            case (mn: Number, mx: Number) =>
              Some(c -> graft.plans.StatsPruneRegistry.LongBounds(
                mn.longValue(), mx.longValue()))
            case (mn: String, mx: String) =>
              Some(c -> graft.plans.StatsPruneRegistry.StrBounds(mn, mx))
            case _ => None
          }
        }.toMap)
    }.toSeq
    graft.plans.StatsPruneRegistry.register(path, stats)
  }

  def zorderLayoutSql(rowsPerFile: Int = 4096): String =
    s"""WITH li AS (
       |  SELECT l_orderkey, l_linenumber,
       |         CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
       |  FROM lineitem),
       |b AS (SELECT min(x) AS minx, max(x) AS maxx,
       |             min(y) AS miny, max(y) AS maxy FROM li),
       |s0 AS (
       |  SELECT l_orderkey, l_linenumber, x, y,
       |         ((x - minx) * 65535) // greatest(1, maxx - minx) AS sx,
       |         ((y - miny) * 65535) // greatest(1, maxy - miny) AS sy
       |  FROM li, b),
       |s1 AS (SELECT l_orderkey, l_linenumber, x, y,
       |         (sx | (sx << 8)) & 16711935 AS sx, (sy | (sy << 8)) & 16711935 AS sy FROM s0),
       |s2 AS (SELECT l_orderkey, l_linenumber, x, y,
       |         (sx | (sx << 4)) & 252645135 AS sx, (sy | (sy << 4)) & 252645135 AS sy FROM s1),
       |s3 AS (SELECT l_orderkey, l_linenumber, x, y,
       |         (sx | (sx << 2)) & 858993459 AS sx, (sy | (sy << 2)) & 858993459 AS sy FROM s2),
       |s4 AS (SELECT l_orderkey, l_linenumber, x, y,
       |         (sx | (sx << 1)) & 1431655765 AS sx, (sy | (sy << 1)) & 1431655765 AS sy FROM s3),
       |z AS (SELECT l_orderkey, l_linenumber, x, y, sx | (sy << 1) AS zval FROM s4)
       |SELECT l_orderkey, l_linenumber, x AS l_partkey, y AS l_suppkey,
       |       CAST(zval AS BIGINT) AS zval,
       |       CAST((row_number() OVER (ORDER BY zval, l_orderkey, l_linenumber, x, y) - 1)
       |            // $rowsPerFile AS INT) AS file_id
       |FROM z""".stripMargin

  /** F18 `source_quality_block` — SOURCE-level curation verdicts, the
    * domain-blocklist stage web-scale pipelines run before any per-doc
    * filter (CCNet/RefinedWeb posture: a domain whose aggregate
    * signals are bad gets dropped wholesale, cheaper and safer than
    * trusting per-doc scores inside a spam domain). Per source over
    * the TRAINING corpus (benchmark members excluded): doc count,
    * benchmark-contaminated count (F3's flagger), exact-duplicate
    * excess (non-keeper copies under C1's normalization), short-doc
    * count — and a `blocked` verdict from integer cross-multiplied
    * thresholds (contaminated > 20%, dup excess > 20%, short > 50%),
    * so the whole report hash-gates with zero float arithmetic.
    *
    * Scale: one normalize+md5 scan → hash agg per text-hash (the C1
    * shuffle), one broadcast semi/left join against the flagged sets,
    * then a per-source hash agg — output is domain-cardinality (tiny).
    * The verdict thresholds compare n·k > N, never divide. */
  def sourceQualityBlock(spark: SparkSession, dir: String): DataFrame =
    // memoized per (session, dir): the per-source verdict table is
    // domain-cardinality metadata shared by F18 itself, E22's frozen
    // admission table, F19's freeze and the audit's blocked leg —
    // one normalize+flag pass instead of four (r16 opt).
    Artifacts.value(spark, Artifacts.SourceBlock, dir) {
      sourceQualityBlockOf(
        Tables.fanout(Tables.documents(spark, dir)
          .select(col("doc_id"), col("text"), col("source"), col("n_chars")))
          .filter(col("doc_id") % BenchMod =!= 0),
        decontaminate(spark, dir).select(col("doc_id")))
        .localCheckpoint()
    }

  /** Frame-based core of F18 (docs = (doc_id, text, source, n_chars),
    * already restricted to the corpus under curation; contaminatedIds
    * = the flagged doc ids). */
  private[graft] def sourceQualityBlockOf(docs: DataFrame,
                                          contaminatedIds: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val contaminated = contaminatedIds.select($"doc_id", lit(1L).as("cont"))
    val normed = docs.select($"doc_id", $"source", $"n_chars",
      md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
    val groups = normed.groupBy($"h")
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keeper"))
    normed.join(groups, Seq("h"))
      .join(contaminated, Seq("doc_id"), "left")
      .select($"source",
        (($"cnt" > 1) && ($"doc_id" =!= $"keeper")).cast("long").as("dup_excess"),
        coalesce($"cont", lit(0L)).as("cont"),
        ($"n_chars" < 200).cast("long").as("is_short"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"cont").as("n_contaminated"),
        sum($"dup_excess").as("n_dup_excess"),
        sum($"is_short").as("n_short"))
      .withColumn("blocked",
        ($"n_contaminated" * 5 > $"n_docs") ||
          ($"n_dup_excess" * 5 > $"n_docs") ||
          ($"n_short" * 2 > $"n_docs"))
  }

  /** F19 `curation_audit` — the per-doc "why was my document dropped"
    * surface: one row per training doc with every filter stage's
    * verdict as a flag and the final conjunction — exact-duplicate
    * excess (C1's normalization, non-keeper copies), benchmark
    * contamination (F3), learned low-quality (C32's NB predicts
    * drop), importance deselection (C33's DSIR threshold), and a
    * blocked source (F18) — `kept` ⇔ no flag fires. The operational
    * complement of F12's manifest: the manifest emits the survivors,
    * the audit explains every decision, flag by flag, for the docs
    * that did NOT survive. All flags are deterministic booleans, so
    * the whole audit hash-gates.
    *
    * Scale: each flag is its stage's own plan (shared work memoized
    * where the stages already memoize); the audit itself adds only
    * broadcast/hash joins on doc_id plus one tiny source-verdict
    * join — no new shuffle wider than (doc_id, flag). */
  def curationAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.fanout(Tables.documents(spark, dir)
      .select($"doc_id", $"text", $"source"))
      .filter($"doc_id" % BenchMod =!= 0)
    val normed = docs.select($"doc_id", $"source",
      md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
    val groups = dupGroupsFor(spark, dir)
    val base = normed.join(groups, Seq("h"))
      .select($"doc_id", $"source",
        (($"cnt" > 1) && ($"doc_id" =!= $"keeper")).as("is_dup"))
    // decontaminate and sourceQualityBlock are session-memoized
    // (checkpointed) dir-level artifacts now, so both legs read the
    // shared tables instead of re-running the 4-gram pass (r15
    // review's sharing, promoted to the session memo in r16 opt).
    // Pre-warm the INDEPENDENT artifacts concurrently (guide §2.6 —
    // per-key memo cells let distinct keys build in parallel; the
    // sourceBlock leg nests the decontam build in its own thread):
    graft.Par.jobs(
      () => { sourceQualityBlock(spark, dir); () },
      () => { TextAnalysis.nbTrainFor(spark, dir); () },
      () => { TextAnalysis.dsirFitFor(spark, dir); () },
      () => { dupGroupsFor(spark, dir); () })
    val cont = decontaminate(spark, dir)
      .select($"doc_id", lit(true).as("contaminated"))
    val lowq = TextAnalysis.nbQualityClassify(spark, dir)
      .select($"doc_id", ($"pred" === "drop").as("low_quality"))
    val desel = TextAnalysis.dsirSelect(spark, dir)
      .select($"doc_id", (!$"selected").as("deselected"))
    val blocked = sourceQualityBlock(spark, dir)
      .select($"source", $"blocked".as("blocked_source"))
    base
      .join(cont, Seq("doc_id"), "left")
      .join(lowq, Seq("doc_id"), "left")
      .join(desel, Seq("doc_id"), "left")
      .join(broadcast(blocked), Seq("source"), "left")
      .select($"doc_id", $"source", $"is_dup",
        coalesce($"contaminated", lit(false)).as("contaminated"),
        coalesce($"low_quality", lit(false)).as("low_quality"),
        coalesce($"deselected", lit(false)).as("deselected"),
        coalesce($"blocked_source", lit(false)).as("blocked_source"))
      .withColumn("kept",
        !($"is_dup" || $"contaminated" || $"low_quality" ||
          $"deselected" || $"blocked_source"))
  }

  /** F19 oracle: every stage's own oracle composed as parenthesized
    * subqueries (WITH-inside-subquery, the stream_catalog_serve
    * posture), joined on doc_id/source with the same conjunction. */
  def curationAuditSql(): String =
    s"""WITH docs AS (
       |  SELECT doc_id, source,
       |         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
       |  FROM documents WHERE doc_id % $BenchMod <> 0),
       |groups AS (SELECT h, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM docs GROUP BY 1),
       |base AS (
       |  SELECT d.doc_id, d.source,
       |         (g.cnt > 1 AND d.doc_id <> g.keeper) AS is_dup
       |  FROM docs d JOIN groups g USING (h)),
       |cont AS (SELECT doc_id FROM (${decontaminateSql()})),
       |lowq AS (SELECT doc_id, pred FROM (${TextAnalysis.nbQualityClassifySql()})),
       |desel AS (SELECT doc_id, selected FROM (${TextAnalysis.dsirSelectSql()})),
       |blocked AS (SELECT source, blocked FROM (${sourceQualityBlockSql()}))
       |SELECT b.doc_id, b.source, b.is_dup,
       |       (c.doc_id IS NOT NULL) AS contaminated,
       |       COALESCE(l.pred = 'drop', FALSE) AS low_quality,
       |       COALESCE(NOT s.selected, FALSE) AS deselected,
       |       COALESCE(k.blocked, FALSE) AS blocked_source,
       |       NOT (b.is_dup OR (c.doc_id IS NOT NULL)
       |            OR COALESCE(l.pred = 'drop', FALSE)
       |            OR COALESCE(NOT s.selected, FALSE)
       |            OR COALESCE(k.blocked, FALSE)) AS kept
       |FROM base b
       |LEFT JOIN cont c ON c.doc_id = b.doc_id
       |LEFT JOIN lowq l ON l.doc_id = b.doc_id
       |LEFT JOIN desel s ON s.doc_id = b.doc_id
       |LEFT JOIN blocked k ON k.source = b.source""".stripMargin

  /** The frozen filter states E23 `stream_curation_audit` serves
    * against — one artifact per curation stage, all built batch-side
    * (the nightly jobs), so an arriving doc's five verdicts depend on
    * the frozen states and its own (text, source) alone:
    *
    *   - `groups`: the normalized-hash dedup index (h → count,
    *     keeper) over the training corpus — corpus-keyed, so it joins
    *     by hash (the persisted C4c index stands in for this eager
    *     freeze at 100 TB);
    *   - `bench`: F3's benchmark gram set (tiny, broadcast);
    *   - `(model, priors)`: C32's trained NB filter (classes × dim);
    *   - `(ratio, eps)`: C33's DSIR pair (dim rows + one threshold);
    *   - `verdicts`: F18's per-source blocklist (domain-cardinality).
    */
  private[graft] case class CurationState(groups: DataFrame, bench: DataFrame,
                                          model: DataFrame, priors: DataFrame,
                                          ratio: DataFrame, eps: Option[Long],
                                          verdicts: DataFrame)

  /** Build every frozen curation artifact from the batch corpus —
    * exactly the states the batch stages themselves train, so tagging
    * the replayed corpus hash-equals F19's composed oracle. The
    * dir-based freeze assembles the session-memoized artifacts (NB
    * model, DSIR fit, benchmark grams, contamination flags, source
    * verdicts, dup groups) instead of retraining each one — the
    * nightly jobs run once per session, the freeze just snapshots
    * them (r16 opt); [[curationFreezeOf]] stays the self-contained
    * frame-based core for crafted spec corpora. */
  private[graft] def curationFreeze(spark: SparkSession, dir: String): CurationState = {
    import spark.implicits._
    // pre-warm the independent frozen artifacts concurrently (guide
    // §2.6; benchGramSet and the sourceBlock leg share the gram scan
    // family but build distinct memo keys)
    graft.Par.jobs(
      () => { sourceQualityBlock(spark, dir); () },
      () => { TextAnalysis.nbTrainFor(spark, dir); () },
      () => { TextAnalysis.dsirFitFor(spark, dir); () },
      () => { dupGroupsFor(spark, dir); () },
      () => { benchGramSet(spark, dir); () })
    val fit = TextAnalysis.dsirFitFor(spark, dir)
    val (model, priors) = TextAnalysis.nbTrainFor(spark, dir)
    CurationState(dupGroupsFor(spark, dir), benchGramSet(spark, dir),
      model, priors, fit._1, fit._3,
      sourceQualityBlock(spark, dir).select($"source", $"blocked"))
  }

  /** The normalized-hash duplicate groups over the corpus under
    * curation (benchmark members excluded), memoized per (session,
    * dir) — shared by the audit's dup leg and the freeze. */
  private[graft] def dupGroupsFor(spark: SparkSession, dir: String): DataFrame =
    Artifacts.value(spark, Artifacts.DupGroups, dir) {
      import spark.implicits._
      Tables.fanout(Tables.documents(spark, dir).select($"doc_id", $"text"))
        .filter($"doc_id" % BenchMod =!= 0)
        .select($"doc_id", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
        .groupBy($"h")
        .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keeper"))
        .localCheckpoint()
    }

  /** Frame-based core of the freeze (docsAll = the FULL corpus
    * including benchmark members, (doc_id, text, source, n_chars)) —
    * lets the spec plant a corpus with one doc per failure mode. */
  private[graft] def curationFreezeOf(docsAll: DataFrame): CurationState = {
    import docsAll.sparkSession.implicits._
    val train = docsAll.filter($"doc_id" % BenchMod =!= 0)
    val groups = train
      .select($"doc_id", md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
      .groupBy($"h")
      .agg(count(lit(1)).as("cnt"), min($"doc_id").as("keeper"))
      .localCheckpoint()
    val bench = docGrams(docsAll.select($"doc_id", $"text"))
      .filter($"doc_id" % BenchMod === 0).select($"gh").distinct()
      .localCheckpoint()
    val (model, priors) = TextAnalysis.nbTrain(docsAll.select($"doc_id", $"text"))
    val (ratio, eps) = TextAnalysis.dsirTrain(docsAll.select($"doc_id", $"text"))
    val contIds = decontScore(
      docGrams(train.select($"doc_id", $"text")), bench).select($"doc_id")
    val verdicts = sourceQualityBlockOf(train, contIds)
      .select($"source", $"blocked").localCheckpoint()
    CurationState(groups, bench, model, priors, ratio, eps, verdicts)
  }

  /** TAG an arriving (doc_id, text, source) batch with every curation
    * stage's verdict against the frozen states — F19's flag row,
    * computed statelessly per micro-batch: the dedup flag joins the
    * frozen index by hash (a doc whose duplicate partner arrived in an
    * EARLIER batch — or hasn't arrived yet but is in the nightly index
    * — still flags), every other stage is a broadcast probe. A doc
    * the index has never seen is novel, not a duplicate. */
  private[graft] def curationTag(batch: DataFrame, st: CurationState): DataFrame = {
    import batch.sparkSession.implicits._
    val base = batch
      .select($"doc_id", $"source",
        md5(lower(trim(regexp_replace($"text", "\\s+", " ")))).as("h"))
      .join(st.groups, Seq("h"), "left")
      .select($"doc_id", $"source",
        coalesce($"cnt" > 1 && $"doc_id" =!= $"keeper", lit(false)).as("is_dup"))
    val cont = decontScore(docGrams(batch.select($"doc_id", $"text")), st.bench)
      .select($"doc_id", lit(true).as("contaminated"))
    val lowq = TextAnalysis.nbScore(batch.select($"doc_id", $"text"), st.model, st.priors)
      .select($"doc_id", ($"pred" === "drop").as("low_quality"))
    val desel = TextAnalysis.dsirScore(batch.select($"doc_id", $"text"), st.ratio, st.eps)
      .select($"doc_id", (!$"selected").as("deselected"))
    base
      .join(cont, Seq("doc_id"), "left")
      .join(lowq, Seq("doc_id"), "left")
      .join(desel, Seq("doc_id"), "left")
      .join(broadcast(st.verdicts.select($"source", $"blocked".as("blocked_source"))),
        Seq("source"), "left")
      .select($"doc_id", $"source", $"is_dup",
        coalesce($"contaminated", lit(false)).as("contaminated"),
        coalesce($"low_quality", lit(false)).as("low_quality"),
        coalesce($"deselected", lit(false)).as("deselected"),
        coalesce($"blocked_source", lit(false)).as("blocked_source"))
      .withColumn("kept",
        !($"is_dup" || $"contaminated" || $"low_quality" ||
          $"deselected" || $"blocked_source"))
  }

  /** TAG a doc frame against a frozen per-source verdict table: one
    * broadcast join on `source` — stateless, so the identical call
    * tags a batch corpus or an arriving micro-batch (E22). A source
    * the nightly job never saw admits by default (blocklist
    * semantics, not allowlist). */
  private[graft] def sourceBlockTag(docs: DataFrame,
                                    verdicts: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.join(broadcast(verdicts.select($"source", $"blocked")),
        Seq("source"), "left")
      .select($"doc_id", $"source",
        coalesce($"blocked", lit(false)).as("blocked"))
  }

  /** E22 oracle: F18's verdicts left-joined back onto the training
    * docs by source, unseen sources admitting by default. */
  def streamSourceBlockSql(): String =
    s"""WITH verdicts AS (SELECT source, blocked FROM (${sourceQualityBlockSql()}))
       |SELECT d.doc_id, d.source, COALESCE(v.blocked, FALSE) AS blocked
       |FROM documents d
       |LEFT JOIN verdicts v ON v.source = d.source
       |WHERE d.doc_id % $BenchMod <> 0""".stripMargin

  /** F18 oracle: identical flagging + integer thresholds in DuckDB. */
  def sourceQualityBlockSql(): String =
    s"""WITH contaminated AS (SELECT doc_id FROM (${decontaminateSql()})),
       |docs AS (
       |  SELECT doc_id, source, n_chars,
       |         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
       |  FROM documents WHERE doc_id % $BenchMod <> 0),
       |groups AS (SELECT h, COUNT(*) AS cnt, MIN(doc_id) AS keeper FROM docs GROUP BY 1),
       |flagged AS (
       |  SELECT d.source,
       |         CASE WHEN g.cnt > 1 AND d.doc_id <> g.keeper THEN 1 ELSE 0 END AS dup_excess,
       |         CASE WHEN c.doc_id IS NULL THEN 0 ELSE 1 END AS cont,
       |         CASE WHEN d.n_chars < 200 THEN 1 ELSE 0 END AS is_short
       |  FROM docs d
       |  JOIN groups g USING (h)
       |  LEFT JOIN contaminated c USING (doc_id))
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(cont) AS BIGINT) AS n_contaminated,
       |       CAST(SUM(dup_excess) AS BIGINT) AS n_dup_excess,
       |       CAST(SUM(is_short) AS BIGINT) AS n_short,
       |       (SUM(cont) * 5 > COUNT(*) OR SUM(dup_excess) * 5 > COUNT(*)
       |        OR SUM(is_short) * 2 > COUNT(*)) AS blocked
       |FROM flagged GROUP BY 1""".stripMargin
}
