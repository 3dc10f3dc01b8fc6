package graft.operators

import graft.Tables
import graft.sources.IndexLayout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** URL canonicalization + URL-level dedup (SURVEY.md §2 C36/C37).
  *
  * Reference behavior: the reference stores per-record link lists as
  * JSONB (reference create_table.sql:65,80) and queries them (A17-A20),
  * but nothing normalizes them — two crawls of one page with different
  * host casing, a default port, a fragment, or tracking parameters
  * count as distinct. URL canonicalization is the CHEAPEST dedup key a
  * crawl pipeline applies — it fires before any content hash is even
  * computed (no fetch needed), which is why every published crawl
  * dedups at the URL level first.
  *
  * Canonical form (the standard RFC 3986 normalizations plus the crawl
  * conventions): lowercase scheme+host; strip default ports (http:80,
  * https:443); drop the fragment; collapse duplicate slashes and strip
  * the trailing slash (empty path → '/'); drop tracking parameters
  * (utm_*, fbclid, gclid, ref); sort the surviving query parameters.
  */
object Url {

  /** The planted link corpus: deterministic messy URLs derived from
    * doc_id, built identically in the oracle. Five variants per group
    * of five consecutive ids — three spellings of one page (case /
    * default-port / trailing-slash+tracking+fragment / duplicate-slash
    * noise around identical real params) and two spellings of a
    * second, query-less page (bare vs tracking-only query) — so
    * canonicalization provably collapses each group to two canonical
    * URLs. Host family alternates per group: an https site with the
    * default port planted explicitly, and an http site on :8080 whose
    * NON-default port must survive canonicalization. */
  private[graft] def urlCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id")
      .withColumn("g", expr("doc_id div 5").cast("string"))
      .withColumn("v", $"doc_id" % 5)
      .select($"doc_id", when($"g" % 2 === 0,
        when($"v" === 0, concat(lit("https://CDN.Site.org/doc/"), $"g", lit("?b=2&a=1")))
          .when($"v" === 1, concat(lit("HTTPS://cdn.site.org:443/doc/"), $"g",
            lit("/?a=1&utm_source=feed&b=2#sec")))
          .when($"v" === 2, concat(lit("https://cdn.site.org//doc/"), $"g",
            lit("?fbclid=zzz&b=2&a=1")))
          .when($"v" === 3, concat(lit("https://cdn.site.org:443/doc/"), $"g", lit("/")))
          .otherwise(concat(lit("HTTPS://CDN.SITE.ORG/doc/"), $"g", lit("?utm_campaign=x#f"))))
        .otherwise(
          when($"v" === 0, concat(lit("http://News.EXAMPLE.net:8080/doc/"), $"g", lit("?b=2&a=1")))
            .when($"v" === 1, concat(lit("HTTP://news.example.net:8080/doc/"), $"g",
              lit("/?a=1&utm_medium=rss&b=2#x")))
            .when($"v" === 2, concat(lit("http://news.example.net:8080//doc/"), $"g",
              lit("?gclid=1&b=2&a=1")))
            .when($"v" === 3, concat(lit("http://news.example.net:8080/doc/"), $"g", lit("/")))
            .otherwise(concat(lit("HTTP://NEWS.Example.net:8080/doc/"), $"g", lit("?ref=tw"))))
        .as("url"))
  }

  /** The canonicalization expression over a `url` column — pure
    * per-row compute (codegen'd regex + array ops), no shuffle, no
    * state: at 100 TB this runs inside whatever scan already reads
    * the links. */
  private[graft] def canonicalCol(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = regexp_extract(hostport, "^([^:]*)", 1)
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val portN = when(port === "" ||
      (scheme === "http" && port === "80") ||
      (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path1 = regexp_replace(regexp_replace(path0, "/+", "/"), "/$", "")
    val pathN = when(path1 === "", lit("/")).otherwise(path1)
    val qn = array_join(array_sort(filter(
      split(regexp_extract(url, "\\?([^#]*)", 1), "&"),
      x => x =!= "" && !x.rlike("^(utm_[^=]*|fbclid|gclid|ref)="))), "&")
    concat(scheme, lit("://"), host, portN, pathN,
      when(qn === "", lit("")).otherwise(concat(lit("?"), qn)))
  }

  /** C36 `url_canonicalize` — (doc_id, url, canonical_url). */
  def urlCanonicalize(spark: SparkSession, dir: String): DataFrame =
    canonicalizeOf(Tables.fanout(urlCorpus(spark, dir)))

  /** Frame-based core of C36 (links = (doc_id, url)). */
  private[graft] def canonicalizeOf(links: DataFrame): DataFrame = {
    import links.sparkSession.implicits._
    links.select($"doc_id", $"url", canonicalCol($"url").as("canonical_url"))
  }

  /** The oracle's canonicalization chain over a `url` expression —
    * identical regex/list pipeline in DuckDB (list_filter/list_sort
    * mirror filter/array_sort; binary string order both sides). */
  private def canonicalSqlExpr(url: String): String = {
    val hostport = s"lower(regexp_extract($url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1))"
    val scheme = s"lower(regexp_extract($url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val port = s"regexp_extract($hostport, ':([0-9]+)$$', 1)"
    val path = s"regexp_replace(regexp_replace(regexp_extract($url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+', '/', 'g'), '/$$', '')"
    // coalesce: DuckDB's array_to_string([]) is NULL, not '' (measured)
    val qn = s"coalesce(array_to_string(list_sort(list_filter(string_split(regexp_extract($url, '\\?([^#]*)', 1), '&'), x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)='))), '&'), '')"
    // no generated line may BEGIN with '||' — the caller embeds this
    // inside a stripMargin string, which would eat the first pipe
    s"""$scheme || '://' ||
       |regexp_extract($hostport, '^([^:]*)', 1) ||
       |CASE WHEN $port = ''
       |       OR ($scheme = 'http' AND $port = '80')
       |       OR ($scheme = 'https' AND $port = '443')
       |     THEN '' ELSE ':' || $port END ||
       |CASE WHEN $path = '' THEN '/' ELSE $path END ||
       |CASE WHEN $qn = '' THEN '' ELSE '?' || $qn END""".stripMargin
  }

  /** The oracle's planted corpus — the identical CASE ladder. */
  private val urlCorpusSql: String =
    """links AS (
      |  SELECT doc_id,
      |    CASE WHEN (doc_id // 5) % 2 = 0 THEN
      |      CASE doc_id % 5
      |        WHEN 0 THEN 'https://CDN.Site.org/doc/' || CAST(doc_id // 5 AS VARCHAR) || '?b=2&a=1'
      |        WHEN 1 THEN 'HTTPS://cdn.site.org:443/doc/' || CAST(doc_id // 5 AS VARCHAR) || '/?a=1&utm_source=feed&b=2#sec'
      |        WHEN 2 THEN 'https://cdn.site.org//doc/' || CAST(doc_id // 5 AS VARCHAR) || '?fbclid=zzz&b=2&a=1'
      |        WHEN 3 THEN 'https://cdn.site.org:443/doc/' || CAST(doc_id // 5 AS VARCHAR) || '/'
      |        ELSE 'HTTPS://CDN.SITE.ORG/doc/' || CAST(doc_id // 5 AS VARCHAR) || '?utm_campaign=x#f' END
      |    ELSE
      |      CASE doc_id % 5
      |        WHEN 0 THEN 'http://News.EXAMPLE.net:8080/doc/' || CAST(doc_id // 5 AS VARCHAR) || '?b=2&a=1'
      |        WHEN 1 THEN 'HTTP://news.example.net:8080/doc/' || CAST(doc_id // 5 AS VARCHAR) || '/?a=1&utm_medium=rss&b=2#x'
      |        WHEN 2 THEN 'http://news.example.net:8080//doc/' || CAST(doc_id // 5 AS VARCHAR) || '?gclid=1&b=2&a=1'
      |        WHEN 3 THEN 'http://news.example.net:8080/doc/' || CAST(doc_id // 5 AS VARCHAR) || '/'
      |        ELSE 'HTTP://NEWS.Example.net:8080/doc/' || CAST(doc_id // 5 AS VARCHAR) || '?ref=tw' END
      |    END AS url
      |  FROM documents)""".stripMargin

  /** C36 oracle. */
  val urlCanonicalizeSql: String =
    s"""WITH $urlCorpusSql
       |SELECT doc_id, url,
       |${canonicalSqlExpr("url")} AS canonical_url
       |FROM links""".stripMargin

  /** C37 `url_dedup` — exact first-writer-wins dedup on the CANONICAL
    * form: keeper = min doc_id per canonical URL. The A2 shape (one
    * hash-partitioned agg + a keeper join — min_by carries nothing
    * here because the payload IS the key), applied to the crawl's
    * cheapest dedup key.
    *
    * Scale: one groupBy on canonical_url (hash agg, map-side
    * combine), then a same-key join the canonicalized side already
    * partitions for — no window, no sort, no state. */
  def urlDedup(spark: SparkSession, dir: String): DataFrame =
    urlDedupOf(Tables.fanout(urlCorpus(spark, dir)))

  /** Frame-based core of C37. */
  private[graft] def urlDedupOf(links: DataFrame): DataFrame = {
    import links.sparkSession.implicits._
    val canon = canonicalizeOf(links)
    val keepers = canon.groupBy($"canonical_url")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_aliases"))
    canon.join(keepers, Seq("canonical_url"))
      .select($"doc_id", $"canonical_url", $"keeper_id", $"n_aliases",
        ($"doc_id" =!= $"keeper_id").as("is_dup"))
  }

  // ---- C37b: the PERSISTED canonical-URL seen set -------------------
  //
  // C37 recomputes the canonical groups from the whole crawl per run;
  // the crawl FRONTIER needs the accumulated seen set indexed once and
  // probed per arriving batch — the line-df index machinery runs
  // unchanged with "one canonical URL per doc" as the segmentation
  // (same bucketed store, commit-last appends, tombstone deletes),
  // and the serve reads only the batch's canonicals' buckets.

  /** The URL "segmentation": one (doc_id, line = canonical form) row
    * per link — plugs the whole line-index lifecycle. */
  private val urlSegsFn: DataFrame => DataFrame = links => {
    import links.sparkSession.implicits._
    canonicalizeOf(links)
      .select($"doc_id", lit(0).as("pos"), $"canonical_url".as("line"))
  }

  def urlIndexWrite(links: DataFrame, path: String, nBuckets: Int = 16): Unit =
    TextAnalysis.lineIndexAppendRaw(links, path, Some(nBuckets),
      overwrite = true, segs = urlSegsFn)

  /** O(batch) fold of a new crawl batch's canonicals into the set. */
  def urlIndexAppend(links: DataFrame, path: String): Unit =
    TextAnalysis.lineIndexAppendRaw(links, path, None,
      overwrite = false, segs = urlSegsFn)

  /** Serve an arriving link batch against the accumulated seen set:
    * canonicalize, route the canonicals to their buckets (driver
    * ints), read ONLY those buckets semi-restricted to the batch's
    * canonicals (honoring tombstones), and answer with C37's exact
    * first-writer-wins semantics over (surviving index ∪ batch). */
  def urlDedupServe(spark: SparkSession, path: String,
                    links: DataFrame): DataFrame = {
    import spark.implicits._
    val L = IndexLayout.Lines
    val log = L.log(spark, path)
    val (committed, nBuckets) = (L.batches(log), L.pinned(log, path, "n_buckets"))
    val dead = L.tombstones(spark, path, committed).toDF("doc_id")
    val neu = canonicalizeOf(links).select($"doc_id", $"canonical_url")
      .localCheckpoint()
    val buckets = IndexLayout.partitionsOf(neu
      .select(pmod(xxhash64($"canonical_url"), lit(nBuckets)).cast("int").as("b")))
    val refRows = L.read(spark, path, "lines")
      .withColumnRenamed("line", "canonical_url")
      .filter($"bucket".isin(buckets: _*))
      .filter($"batch_id".isin(committed: _*))
      .join(broadcast(dead), Seq("doc_id"), "left_anti")
      .join(neu.select($"canonical_url").distinct(), Seq("canonical_url"), "left_semi")
      .select($"canonical_url", $"doc_id")
    val agg = refRows.unionAll(neu.select($"canonical_url", $"doc_id"))
      .groupBy($"canonical_url")
      .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_aliases"))
    neu.join(agg, Seq("canonical_url"))
      .select($"doc_id", $"canonical_url", $"keeper_id", $"n_aliases",
        ($"doc_id" =!= $"keeper_id").as("is_dup"))
  }

  /** C37b `url_dedup_serve` gate — index 70% of the reference crawl's
    * canonicals, append the rest, tombstone every 7th doc, serve the
    * new batch: HASH-EQUAL to C37's from-scratch answer on (surviving
    * reference ∪ batch) restricted to the batch. */
  def urlDedupServeGate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val all = urlCorpus(spark, dir)
    val ref = all.filter($"doc_id" % 3 =!= 0)
    val neu = all.filter($"doc_id" % 3 === 0)
    if (ref.isEmpty || neu.isEmpty)
      return Seq.empty[(Long, String, Long, Long, Boolean)]
        .toDF("doc_id", "canonical_url", "keeper_id", "n_aliases", "is_dup")
    val cut = Tables.prefixCut(ref).get
    graft.sources.Lake.withScratchIndex(spark, "graft_url_idx") { tmp =>
      urlIndexWrite(Tables.fanout(ref.filter($"doc_id" <= cut)), tmp)
      urlIndexAppend(Tables.fanout(ref.filter($"doc_id" > cut)), tmp)
      IndexLayout.Lines.delete(spark, tmp, all.filter($"doc_id" % 7 === 0))
      urlDedupServe(spark, tmp, Tables.fanout(neu))
    }
  }

  /** C37b oracle — the from-scratch canonical dedup on (surviving
    * reference ∪ batch) restricted to the batch. */
  val urlDedupServeSql: String =
    s"""WITH $urlCorpusSql,
       |canon AS (
       |  SELECT doc_id,
       |${canonicalSqlExpr("url")} AS canonical_url
       |  FROM links
       |  WHERE (doc_id % 3 <> 0 AND doc_id % 7 <> 0) OR doc_id % 3 = 0),
       |keepers AS (
       |  SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_aliases
       |  FROM canon GROUP BY 1)
       |SELECT c.doc_id, c.canonical_url, k.keeper_id, k.n_aliases,
       |       c.doc_id <> k.keeper_id AS is_dup
       |FROM canon c JOIN keepers k USING (canonical_url)
       |WHERE c.doc_id % 3 = 0""".stripMargin

  /** C37 oracle. */
  val urlDedupSql: String =
    s"""WITH $urlCorpusSql,
       |canon AS (
       |  SELECT doc_id,
       |${canonicalSqlExpr("url")} AS canonical_url
       |  FROM links),
       |keepers AS (
       |  SELECT canonical_url, MIN(doc_id) AS keeper_id, COUNT(*) AS n_aliases
       |  FROM canon GROUP BY 1)
       |SELECT doc_id, canonical_url, keeper_id, n_aliases,
       |       doc_id <> keeper_id AS is_dup
       |FROM canon JOIN keepers USING (canonical_url)""".stripMargin

  // ---- C39 `domain_extract`: registered-domain extraction -----------
  //
  // Every domain-scoped curation stage (per-domain caps, domain
  // blocklists, crawl politeness) keys on the REGISTERED domain, not
  // the raw host — "a.blog.co.uk" and "b.blog.co.uk" are one
  // registrant, "blog.co.uk" and "news.co.uk" are not, and getting
  // that split right requires the public-suffix rules ("co.uk" is a
  // suffix, "site.com"'s suffix is just "com").

  /** Public-suffix rules (published PSL entries — single-label TLDs,
    * multi-label country suffixes, private-registry entries). A
    * compile-time sample here; the probe is a literal-array
    * membership, so the full ~9k-rule published list rides the task
    * binary the same way — still pure scan-parallel projection.
    * Lookup follows the published PSL algorithm: the LONGEST matching
    * rule wins; a host matching no rule takes the implicit '*' rule
    * (its last label is the suffix); a host that IS a suffix has no
    * registered domain. */
  private[graft] val publicSuffixes: Seq[String] = Seq(
    "com", "org", "net", "edu", "gov", "io", "uk", "au", "jp",
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "ac.jp", "ne.jp", "github.io", "blogspot.com")

  /** (public_suffix, registered_domain) columns for a lowercase host —
    * candidate suffixes are the host's last k labels (k ≤ 4), matched
    * against the rule list inside one array expression: no UDF, no
    * join, no shuffle — the scan IS the lookup. PSL matching is
    * case-sensitive against the lowercase rule list: run AFTER C36
    * canonicalization (which lowercases hosts), as the C39 entry and
    * its corpus do. */
  private[graft] def domainCols(host: Column): (Column, Column) = {
    val labels = split(host, "\\.")
    val n = size(labels)
    val psl = array(publicSuffixes.map(lit): _*)
    // candidates ascend in k, so the last match is the longest rule
    val matched = filter(
      transform(sequence(lit(1), least(n, lit(4))),
        k => array_join(slice(labels, n - k + 1, k), ".")),
      s => array_contains(psl, s))
    val suffix = coalesce(try_element_at(matched, lit(-1)),
      try_element_at(labels, lit(-1)))
    val ns = size(split(suffix, "\\."))
    val registered = when(n > ns,
      array_join(slice(labels, n - ns, ns + 1), "."))
      .otherwise(lit(null).cast("string"))
    (suffix, registered)
  }

  /** The planted host corpus: nine host shapes per doc-id group
    * covering each PSL lookup leg — multi-label country suffixes,
    * deep subdomain chains, a bare suffix (no registered domain), a
    * private-registry entry that must beat its parent TLD, and an
    * unknown TLD taking the implicit '*' rule. Built identically in
    * the oracle. */
  private[graft] def hostCorpus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir).select($"doc_id")
      .withColumn("g", expr("doc_id div 9").cast("string"))
      .withColumn("v", $"doc_id" % 9)
      .select($"doc_id",
        when($"v" === 0, concat(lit("www.blog"), $"g", lit(".co.uk")))
          .when($"v" === 1, concat(lit("a.b.site"), $"g", lit(".com")))
          .when($"v" === 2, concat(lit("news"), $"g", lit(".ac.jp")))
          .when($"v" === 3, concat(lit("cdn"), $"g", lit(".org")))
          .when($"v" === 4, concat(lit("deep.x.host"), $"g", lit(".com.au")))
          .when($"v" === 5, concat(lit("host"), $"g", lit(".net")))
          .when($"v" === 6, lit("co.uk"))
          .when($"v" === 7, concat(lit("files"), $"g", lit(".github.io")))
          .otherwise(concat(lit("intra"), $"g", lit(".lan")))
          .as("host"))
  }

  /** C39 `domain_extract` — (doc_id, host, public_suffix,
    * registered_domain). Pure per-row array compute over whatever
    * scan already reads the hosts; at 100 TB the downstream
    * domain-keyed stages shuffle on registered_domain, never here. */
  def domainExtract(spark: SparkSession, dir: String): DataFrame =
    domainExtractOf(Tables.fanout(hostCorpus(spark, dir)))

  /** Frame-based core of C39 (hosts = (doc_id, host)). */
  private[graft] def domainExtractOf(hosts: DataFrame): DataFrame = {
    import hosts.sparkSession.implicits._
    val (suffix, registered) = domainCols($"host")
    hosts.select($"doc_id", $"host", suffix.as("public_suffix"),
      registered.as("registered_domain"))
  }

  /** The oracle's PSL lookup over a host expression — the identical
    * candidate/filter/longest chain in DuckDB list functions. */
  private def domainSqlExpr(h: String): String = {
    val labels = s"string_split($h, '.')"
    val rules = publicSuffixes.map(s => s"'$s'").mkString("[", ", ", "]")
    val matched = s"list_filter(list_transform(generate_series(1, least(len($labels), 4)), k -> array_to_string($labels[len($labels)-k+1:len($labels)], '.')), s -> list_contains($rules, s))"
    val suffix = s"coalesce($matched[-1], $labels[-1])"
    val ns = s"len(string_split($suffix, '.'))"
    s"""$suffix AS public_suffix,
       |CASE WHEN len($labels) > $ns
       |     THEN array_to_string($labels[len($labels)-$ns:len($labels)], '.')
       |     ELSE NULL END AS registered_domain""".stripMargin
  }

  /** The oracle's planted host corpus — the identical CASE ladder. */
  private val hostCorpusSql: String =
    """hosts AS (
      |  SELECT doc_id,
      |    CASE doc_id % 9
      |      WHEN 0 THEN 'www.blog' || CAST(doc_id // 9 AS VARCHAR) || '.co.uk'
      |      WHEN 1 THEN 'a.b.site' || CAST(doc_id // 9 AS VARCHAR) || '.com'
      |      WHEN 2 THEN 'news' || CAST(doc_id // 9 AS VARCHAR) || '.ac.jp'
      |      WHEN 3 THEN 'cdn' || CAST(doc_id // 9 AS VARCHAR) || '.org'
      |      WHEN 4 THEN 'deep.x.host' || CAST(doc_id // 9 AS VARCHAR) || '.com.au'
      |      WHEN 5 THEN 'host' || CAST(doc_id // 9 AS VARCHAR) || '.net'
      |      WHEN 6 THEN 'co.uk'
      |      WHEN 7 THEN 'files' || CAST(doc_id // 9 AS VARCHAR) || '.github.io'
      |      ELSE 'intra' || CAST(doc_id // 9 AS VARCHAR) || '.lan' END AS host
      |  FROM documents)""".stripMargin

  /** C39 oracle. */
  val domainExtractSql: String =
    s"""WITH $hostCorpusSql
       |SELECT doc_id, host,
       |${domainSqlExpr("host")}
       |FROM hosts""".stripMargin

  // ---- C40 `robots_filter`: crawl admission by robots rules ---------
  //
  // The crawl frontier's other gate besides the seen set (C37b): may
  // this URL be fetched at all? Published robots.txt semantics
  // (RFC 9309): per authority, the rule with the LONGEST matching
  // path prefix decides; allow wins a length tie; a URL matching no
  // rule — including the whole authority having no rules — is
  // allowed. Matching is against the canonical PATH (query excluded
  // here; the RFC leaves it to the implementation). Plain prefix
  // rules only: RFC 9309's `*`/`$` wildcards and the crawl-delay
  // extension are out of scope at this revision.

  /** The planted per-authority rule set (authority, allow, prefix) —
    * compile-time here (a real frontier broadcast-joins a
    * domain-cardinality rules table; the verdict expression is the
    * same). Covers every semantic leg: nested prefixes three deep,
    * an exact allow/disallow length tie, and a blanket empty-prefix
    * disallow that matches every path. */
  private[graft] val robotsRules: Seq[(String, Boolean, String)] = Seq(
    ("cdn.site.org", false, "/doc/1"),
    ("cdn.site.org", true, "/doc/12"),
    ("cdn.site.org", false, "/doc/123"),
    ("cdn.site.org", true, "/doc/5"),
    ("cdn.site.org", false, "/doc/5"),
    ("news.example.net:8080", false, ""))

  /** C40 `robots_filter` — (doc_id, canonical_url, authority,
    * matched_prefix, matched_directive, allowed). Pure per-row
    * compute: the rule set rides as a literal struct array, each URL
    * filters it to its authority's matching prefixes and takes the
    * (length, allow)-max — no join, no shuffle, the scan decides. */
  def robotsFilter(spark: SparkSession, dir: String): DataFrame =
    robotsFilterOf(canonicalizeOf(Tables.fanout(urlCorpus(spark, dir))))

  /** Frame-based core of C40 over canonicalized links. */
  private[graft] def robotsFilterOf(canon: DataFrame): DataFrame = {
    import canon.sparkSession.implicits._
    val rulesArr = array(robotsRules.map { case (a, al, p) =>
      struct(lit(a).as("a"), lit(if (al) 1 else 0).as("al"), lit(p).as("p"))
    }: _*)
    val auth = regexp_extract($"canonical_url",
      "^[a-z][a-z0-9+.-]*://([^/?#]*)", 1)
    val path = regexp_extract($"canonical_url",
      "^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    // winner = max (prefix length, allow, prefix) over matching rules
    // — longest rule first, allow wins the tie, struct-max is total
    val winner = array_max(transform(
      filter(rulesArr, r => r("a") === $"authority" &&
        $"path".startsWith(r("p"))),
      r => struct(length(r("p")).as("l"), r("al").as("al"), r("p").as("p"))))
    canon.select($"doc_id", $"canonical_url",
        auth.as("authority"), path.as("path"))
      .withColumn("w", winner)
      .select($"doc_id", $"canonical_url", $"authority",
        $"w.p".as("matched_prefix"),
        when($"w".isNull, lit(null).cast("string"))
          .otherwise(when($"w.al" === 1, lit("allow")).otherwise(lit("disallow")))
          .as("matched_directive"),
        coalesce($"w.al" === 1, lit(true)).as("allowed"))
  }

  /** C40 oracle: the identical rule table + longest-prefix/allow-tie
    * pick via a ranked join in DuckDB (prefix DESC mirrors the
    * engine's struct-max tiebreak). */
  val robotsFilterSql: String = {
    val rows = robotsRules.map { case (a, al, p) =>
      s"('$a', ${if (al) 1 else 0}, '$p')"
    }.mkString(",\n      |         ")
    s"""WITH $urlCorpusSql,
       |canon AS (
       |  SELECT doc_id,
       |${canonicalSqlExpr("url")} AS canonical_url
       |  FROM links),
       |parts AS (
       |  SELECT doc_id, canonical_url,
       |         regexp_extract(canonical_url, '^[a-z][a-z0-9+.-]*://([^/?#]*)', 1) AS authority,
       |         regexp_extract(canonical_url, '^[a-z][a-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path
       |  FROM canon),
       |rules(authority, al, prefix) AS (
       |  VALUES $rows),
       |m AS (
       |  SELECT p.doc_id, r.al, r.prefix,
       |         row_number() OVER (PARTITION BY p.doc_id
       |           ORDER BY len(r.prefix) DESC, r.al DESC, r.prefix DESC) AS rn
       |  FROM parts p JOIN rules r
       |    ON p.authority = r.authority AND starts_with(p.path, r.prefix))
       |SELECT p.doc_id, p.canonical_url, p.authority,
       |       m.prefix AS matched_prefix,
       |       CASE WHEN m.al IS NULL THEN NULL
       |            WHEN m.al = 1 THEN 'allow' ELSE 'disallow' END AS matched_directive,
       |       COALESCE(m.al = 1, TRUE) AS allowed
       |FROM parts p LEFT JOIN (SELECT * FROM m WHERE rn = 1) m USING (doc_id)""".stripMargin
  }
}
