package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables._

/** The end-to-end curation pipeline as ONE declared, oracle-checked
  * query: exact dedup → near-dup cluster keepers → global-quantile
  * quality filter → per-language corpus stats. Each stage is the
  * already-verified operator (DedupQueries, TextQueries); this
  * composes them the way a production training-data run would, and
  * the DuckDB oracle recomputes the whole chain (recursive-CTE
  * connected components included) so the composition itself is
  * hash-checked, not just the parts.
  *
  * Scale shape: two hash aggs (content hash, cluster drop-list), one
  * iterative CC on the (tiny) near-dup pair set, one broadcast
  * scalar threshold, one final agg — no global sorts, no unbounded
  * windows, every join on ids.
  */
object PipelineQueries {

  // ── curation_url_filter — the URL/domain-level gate (VERDICT r15
  // task 5): the blocklist pass every published crawl pipeline
  // (CCNet, RefinedWeb, Gopher) runs BEFORE any content filter —
  // normalize the URL, extract the registered domain, drop
  // category-blocklisted domains, and ledger keep/drop per domain ──

  /** Ten registered domains, distinct at the registered level so the
    * last-two-labels extraction actually splits the corpus. Index =
    * doc_id % 10. */
  private[operators] val URL_DOMAINS = Seq(
    "example-news.com", "example-blog.net", "acme-docs.org",
    "shopmart.io", "forumhub.dev", "adfarm.biz", "spam-mill.info",
    "trackpix.co", "mirrorsite.us", "campuswiki.edu")

  /** UT1-style category blocklist (domain → category), broadcast to
    * the join. */
  private[operators] val URL_BLOCKLIST = Seq(
    "adfarm.biz" -> "ads",
    "spam-mill.info" -> "spam",
    "trackpix.co" -> "tracking")

  /** doc_id % 10 residues whose domain is blocklisted — derived, not
    * hand-kept, so the datasheet column below can never desync from
    * the blocklist. */
  private[operators] val URL_BLOCKED_IDX: Seq[Int] = {
    val blocked = URL_BLOCKLIST.map(_._1).toSet
    URL_DOMAINS.zipWithIndex.collect {
      case (d, i) if blocked(d) => i }
  }

  /** The synthetic raw URL for one document — four shape variants
    * (doc_id % 4) so the normalization chain is actually exercised:
    * uppercase scheme+host with the default :443, duplicate slashes
    * plus a fragment, http with :80 and a trailing slash, and the
    * clean form; doc_id % 3 == 0 adds a www. subdomain the
    * normalizer must strip before domain extraction. */
  private def rawUrlCol: Column = {
    val dom = element_at(typedLit(URL_DOMAINS),
      (col("doc_id") % 10).cast("int") + 1)
    val host = when(col("doc_id") % 3 === 0, concat(lit("www."), dom))
      .otherwise(dom)
    val path = concat(lit("/p/"), col("doc_id"))
    when(col("doc_id") % 4 === 0, concat(lit("https://"), host, path))
      .when(col("doc_id") % 4 === 1,
        concat(lit("HTTPS://"), upper(host), lit(":443"), path))
      .when(col("doc_id") % 4 === 2,
        concat(lit("https://"), host, lit("//p//"), col("doc_id"),
          lit("#frag")))
      .otherwise(
        concat(lit("http://"), host, lit(":80"), path, lit("/")))
  }

  /** Per-doc URL verdict over any (doc_id) frame carrying a `url_raw`
    * column: normalization (fragment strip, case fold, default-port
    * strip, slash collapse, trailing-slash strip, www strip),
    * registered-domain extraction (last two labels — the public-
    * suffix-list simplification, documented), and the broadcast
    * blocklist join. Parameterized so UrlFilterSpec plants its own
    * URLs and blocklist. */
  private[operators] def urlVerdictFrom(
      s: SparkSession, withRaw: DataFrame,
      blocklist: Seq[(String, String)]): DataFrame = {
    import s.implicits._
    val noFrag = regexp_replace(col("url_raw"), "#.*$", "")
    val scheme =
      lower(regexp_extract(noFrag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport = lower(
      regexp_extract(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val portless =
      when(scheme === "http", regexp_replace(hostport, ":80$", ""))
        .when(scheme === "https", regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    val host = regexp_replace(portless, "^www\\.", "")
    val pathq =
      regexp_replace(noFrag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    val path = regexp_replace(
      regexp_replace(pathq, "/{2,}", "/"), "(.)/$", "$1")
    val blockDf = blocklist.toDF("domain", "category")
    withRaw
      .withColumn("url_norm", concat(scheme, lit("://"), host, path))
      .withColumn("domain",
        regexp_extract(host, "([^.]+\\.[^.]+)$", 1))
      .join(broadcast(blockDf), Seq("domain"), "left")
      .withColumn("keep", col("category").isNull)
      .withColumn("category", coalesce(col("category"), lit("allowed")))
  }

  /** curation_url_filter — the per-domain keep/drop ledger: docs,
    * kept, and the smallest normalized URL (pins the whole
    * normalization chain per domain in one scalar).
    *
    * Scale shape: URL build + normalization are row-local regex
    * (codegen); the blocklist is a broadcast join (category lists are
    * ~MB even at UT1 scale); the ledger is one hash agg to |domains|
    * rows. Nothing shuffles the corpus. */
  def curationUrlFilter(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), rawUrlCol.as("url_raw"))
    urlVerdictFrom(s, docs, URL_BLOCKLIST)
      .groupBy(col("domain"), col("category"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("keep").cast("long")).as("n_kept"),
        min(col("url_norm")).as("sample_norm"))
  }

  val curationUrlFilterSql: String = {
    val doms = URL_DOMAINS.map(d => s"'$d'").mkString(", ")
    val blocked = URL_BLOCKLIST
      .map { case (d, c) => s"('$d', '$c')" }.mkString(", ")
    s"""WITH doms(i, dom) AS (
       |  SELECT * FROM (SELECT unnest(generate_series(0, 9)),
       |    unnest([$doms]))),
       |bl(domain, category) AS (SELECT * FROM (VALUES $blocked)),
       |raw AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN 'www.' || dom ELSE dom END
       |      AS host0,
       |    dom
       |  FROM documents JOIN doms ON doms.i = doc_id % 10),
       |u AS (
       |  SELECT doc_id,
       |    CASE CAST(doc_id % 4 AS INT)
       |      WHEN 0 THEN 'https://' || host0 || '/p/' || doc_id
       |      WHEN 1 THEN 'HTTPS://' || upper(host0) || ':443/p/' || doc_id
       |      WHEN 2 THEN 'https://' || host0 || '//p//' || doc_id
       |        || '#frag'
       |      ELSE 'http://' || host0 || ':80/p/' || doc_id || '/'
       |    END AS url_raw
       |  FROM raw),
       |nf AS (SELECT doc_id,
       |    regexp_replace(url_raw, '#.*$$', '', 'g') AS nu FROM u),
       |parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(nu, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(nu,
       |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
       |    regexp_replace(nu, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', '')
       |      AS pathq
       |  FROM nf),
       |norm AS (
       |  SELECT doc_id, scheme,
       |    regexp_replace(
       |      CASE WHEN scheme = 'http'
       |             THEN regexp_replace(hostport, ':80$$', '')
       |           WHEN scheme = 'https'
       |             THEN regexp_replace(hostport, ':443$$', '')
       |           ELSE hostport END,
       |      '^www\\.', '') AS host,
       |    regexp_replace(regexp_replace(pathq, '/{2,}', '/', 'g'),
       |      '(.)/$$', '\\1') AS path
       |  FROM parts),
       |v AS (
       |  SELECT doc_id,
       |    scheme || '://' || host || path AS url_norm,
       |    regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
       |  FROM norm),
       |j AS (
       |  SELECT v.domain, coalesce(bl.category, 'allowed') AS category,
       |    v.url_norm, bl.category IS NULL AS keep
       |  FROM v LEFT JOIN bl ON bl.domain = v.domain)
       |SELECT domain, category,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |  min(url_norm) AS sample_norm
       |FROM j GROUP BY 1, 2""".stripMargin
  }

  // ── curation_robots_filter — the crawl-politeness gate: parse each
  // domain's robots.txt (RFC 9309, graft.ingest.RobotsTxt) and test
  // every URL against the selected group's rules ──

  /** The synthetic robots.txt for domain index d — shaped so every
    * parser rule fires somewhere on the fixture: a non-matching UA
    * group that must be SKIPPED, the `*` group, a universal
    * /private/ disallow, a /p/ disallow on every 3rd domain, and an
    * /p/1 allow on every 6th (longest-match + allow-tie precedence:
    * ids rendering with a leading '1' stay crawlable there). The
    * Crawl-delay varies 1..3 by domain so pipeline_fetch_schedule
    * exercises real per-host pacing differences (the delay line never
    * enters allow/disallow precedence, so every robots-verdict oracle
    * is untouched by the variation). */
  private[operators] def robotsTextFor(
      d: Int, pathPrefix: String = "/p/"): String =
    "User-agent: crawler-x\nDisallow: /\n\n" +
      "User-agent: *\n" +
      "Disallow: /private/\n" +
      (if (d % 3 == 0) s"Disallow: $pathPrefix\n" else "") +
      (if (d % 6 == 0) s"Allow: ${pathPrefix}1\n" else "") +
      s"Crawl-delay: ${1 + d % 3}\n"

  /** curation_robots_filter — per-domain politeness ledger: URLs
    * checked, URLs crawlable under the domain's robots.txt, and the
    * selected group's rule count. The 10 robots files parse ONCE on
    * the driver (they are per-domain artifacts a crawler fetches
    * once) and the parsed rules broadcast; the per-URL check is a
    * row-local prefix walk over ≤3 rules. The oracle re-derives every
    * verdict from the rule arithmetic (d%3 disallows /p/, d%6 allows
    * /p/1 back by longest-match, ties to Allow). */
  def curationRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    val parsed: Map[Int, graft.ingest.RobotsTxt.Rules] =
      (0 until 10).map(d =>
        d -> graft.ingest.RobotsTxt.rulesFor(robotsTextFor(d), "graft"))
        .toMap
    val b = s.sparkContext.broadcast(parsed)
    val allowedUdf = udf { (d: Int, path: String) =>
      b.value(d).allows(path)
    }
    val nRulesUdf = udf { d: Int => b.value(d).size }
    documents(s, dir)
      .select((col("doc_id") % 10).cast("int").as("d"),
        concat(lit("/p/"), col("doc_id")).as("path"))
      .select(col("d"),
        allowedUdf(col("d"), col("path")).cast("long").as("ok"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ok")).as("n_crawlable"),
        max(nRulesUdf(col("d"))).cast("long").as("n_rules"))
      .select(
        element_at(typedLit(URL_DOMAINS), col("d") + 1).as("domain"),
        col("n_docs"), col("n_crawlable"), col("n_rules"))
  }

  val curationRobotsFilterSql: String = {
    val doms = URL_DOMAINS.map(d => s"'$d'").mkString(", ")
    s"""WITH doms(i, dom) AS (
       |  SELECT * FROM (SELECT unnest(generate_series(0, 9)),
       |    unnest([$doms]))),
       |v AS (
       |  SELECT doc_id, doc_id % 10 AS d,
       |    CASE
       |      WHEN doc_id % 10 % 3 <> 0 THEN 1
       |      WHEN doc_id % 10 % 6 = 0
       |        AND CAST(doc_id AS VARCHAR) LIKE '1%' THEN 1
       |      ELSE 0
       |    END AS ok
       |  FROM documents)
       |SELECT doms.dom AS domain,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(v.ok) AS BIGINT) AS n_crawlable,
       |  CAST(1 + CASE WHEN v.d % 3 = 0 THEN 1 ELSE 0 END
       |    + CASE WHEN v.d % 6 = 0 THEN 1 ELSE 0 END AS BIGINT)
       |    AS n_rules
       |FROM v JOIN doms ON doms.i = v.d
       |GROUP BY 1, v.d""".stripMargin
  }

  def pipelineCleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    // stage 1: exact dedup — one keeper per distinct text (the same
    // aggregate dedup_exact declares)
    val keep1 = DedupQueries.dedupExactFrom(docs)
      .select(col("keep_id").as("doc_id"))
    // stage 2: near-dup clustering — drop cluster non-keepers
    val drop2 = DedupQueries
      .clustersFrom(DedupQueries.dedupNgramJaccardFrom(docs)
        .select(col("a"), col("b")))
      .filter(col("is_keeper") === 0)
      .select(col("doc_id"))
    val surv = docs
      .join(keep1, Seq("doc_id"))
      .join(drop2, Seq("doc_id"), "left_anti")
    // stage 3: quality filter at the survivors' P20. The threshold is
    // collected as ONE scalar from a persisted narrow survivor frame
    // instead of riding a broadcast join: the join form planned the
    // whole dedup chain (sha256 agg + candidate join) TWICE — once
    // under the percentile subtree, once on the filter side (guide
    // §7.2 duplicated subtrees; profiled 16 stages / 2.1 s wall at
    // sf0.1, over half of it duplicate passes). The persisted frame
    // is 3 narrow columns of survivors (MEMORY_AND_DISK: spills, never
    // evicts the lake cache); the ≤|langs|-row result is pinned
    // eagerly so both working frames release before return — the
    // BudgetDraw caller-materialization lifecycle. approx_percentile
    // at 100 TB — same plan shape either way.
    val sq = surv
      .withColumn("quality", TextQueries.QualityScore.quality)
      .select(col("lang"), col("n_chars"), col("quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val thrRow = sq.agg(
        round(expr("percentile(quality, 0.2)") + lit(1e-9), 6).as("thr"))
        .collect()(0)
      if (thrRow.isNullAt(0)) // empty survivor set: no rows pass
        sq.filter(lit(false))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .localCheckpoint(eager = true)
      else
        sq.filter(col("quality") >= lit(thrRow.getDouble(0)))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"))
          .localCheckpoint(eager = true)
    } finally { sq.unpersist(); () }
  }

  val pipelineCleanCorpusSql: String =
    s"""WITH keep1 AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |cc AS (SELECT doc_id, is_keeper
       |       FROM (${DedupQueries.dedupClusterCcSql}) z),
       |drop2 AS (SELECT doc_id FROM cc WHERE is_keeper = 0),
       |surv AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)
       |         WHERE d.doc_id NOT IN (SELECT doc_id FROM drop2)),
       |sq AS (
       |  SELECT doc_id, lang, n_chars,
       |    ${TextQueries.QualityScore.QUALITY_SQL} AS quality
       |  FROM surv),
       |thr AS (SELECT round(quantile_cont(quality, 0.2) + 1e-9, 6) AS thr
       |        FROM sq)
       |SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars
       |FROM sq, thr WHERE sq.quality >= thr.thr
       |GROUP BY lang""".stripMargin

  /** pipeline_build_mixture — mixture construction end-to-end, as a
    * production run would chain it: exact-dedup keepers → P20 quality
    * gate → α-temperature weights over the SURVIVORS → deterministic
    * hash-ordered token-budget draw per language. Output is the
    * mixture card: per language, the docs/tokens actually drawn and
    * the tempered weight they were drawn under. Every stage is the
    * already-verified operator; the oracle recomputes the whole chain
    * so the COMPOSITION is hash-checked.
    *
    * Scale shape: same bounds as the stages — content-hash agg,
    * one broadcast scalar threshold, one |langs|-row weight agg with
    * a 1-row broadcast Σ, one per-language window with O(1) state.
    * Nothing after the quality gate scales with corpus size except
    * the window's linear pass. */
  def pipelineBuildMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val keep1 = DedupQueries.dedupExactFrom(docs)
      .select(col("keep_id").as("doc_id"))
    val sq = docs.join(keep1, Seq("doc_id"))
      .withColumn("quality", TextQueries.QualityScore.quality)
    val thr = sq.agg(
      round(expr("percentile(quality, 0.2)") + lit(1e-9), 6).as("thr"))
    // the survivors keep their text, so the SHARED stage cores run
    // unchanged: one packing rule, one weight formula — the pipeline
    // cannot drift from the standalone operators
    val surv = sq.join(broadcast(thr))
      .filter(col("quality") >= col("thr"))
      .select(col("doc_id"), col("lang"), col("text"))
    val weights = SampleQueries.temperatureWeightsFrom(
      surv.select(col("lang"),
          size(split(col("text"), " ")).as("n_tok"))
        .groupBy(col("lang")).agg(sum(col("n_tok")).as("n_tokens")))
      .select(col("lang"), col("q"))
    SampleQueries.tokenBudgetKeptFrom(surv)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs_kept"),
        sum(col("n_tok")).as("n_tokens_kept"))
      .join(weights, Seq("lang"))
  }

  val pipelineBuildMixtureSql: String =
    s"""WITH keep1 AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)),
       |sq AS (
       |  SELECT doc_id, lang, text,
       |    ${TextQueries.QualityScore.QUALITY_SQL} AS quality
       |  FROM documents JOIN keep1 USING (doc_id)),
       |thr AS (SELECT round(quantile_cont(quality, 0.2) + 1e-9, 6) AS thr
       |        FROM sq),
       |f AS (
       |  SELECT doc_id, lang,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6)
       |      AS BIGINT) % 1000 AS bucket
       |  FROM sq, thr WHERE quality >= thr),
       |pl AS (SELECT lang, sum(n_tok) AS n_tokens FROM f GROUP BY lang),
       |zz AS (SELECT sum(power(CAST(n_tokens AS DOUBLE),
       |  ${SampleQueries.ALPHA})) AS z FROM pl),
       |w AS (SELECT lang, round(power(CAST(n_tokens AS DOUBLE),
       |  ${SampleQueries.ALPHA}) / z + 1e-9, 4) AS q
       |  FROM pl CROSS JOIN zz),
       |c AS (
       |  SELECT lang, n_tok, sum(n_tok) OVER (PARTITION BY lang
       |    ORDER BY bucket, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM f)
       |SELECT c.lang, count(*) AS n_docs_kept,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens_kept, q
       |FROM c JOIN w ON c.lang = w.lang
       |WHERE cum - n_tok < ${SampleQueries.LANG_BUDGET}
       |GROUP BY c.lang, q""".stripMargin

  /** curation_domain_stats — the per-source (per-domain) curation
    * ledger every web-scale pipeline keeps before sampling: document
    * and exact-duplicate counts, short-doc share, mean length, and a
    * keep/flag verdict per source (the RefinedWeb/Dolma "domain
    * blocklist from corpus statistics" stage, derived from the data
    * instead of a hand list). ONE hash aggregate over the corpus —
    * count-distinct of the content hash rides the same shuffle as the
    * counts; output is |sources| rows. The keep rule compares scaled
    * INTEGERS (dup_count·10 ≤ n_docs, short·10 ≤ 3·n_docs) so the
    * verdict never sits on a float-rounding boundary; the rounded
    * rates are display columns. */
  def curationDomainStats(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(sha2(col("text"), 256)).as("n_unique"),
        sum((col("n_chars") < 200).cast("long")).as("n_short"),
        sum(col("n_chars")).as("sum_chars"))
      .select(
        col("source"), col("n_docs"), col("n_unique"),
        round((col("n_docs") - col("n_unique")).cast("double") /
          col("n_docs") + lit(1e-9), 6).as("dup_rate"),
        round(col("n_short").cast("double") / col("n_docs") + lit(1e-9), 6)
          .as("short_share"),
        round(col("sum_chars").cast("double") / col("n_docs") + lit(1e-9), 4)
          .as("mean_chars"),
        ((col("n_docs") - col("n_unique")) * 10 <= col("n_docs") &&
          col("n_short") * 10 <= col("n_docs") * 3).as("keep"))

  val curationDomainStatsSql: String =
    """WITH a AS (
      |  SELECT source, count(*) AS n_docs,
      |    count(DISTINCT sha256(text)) AS n_unique,
      |    sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS n_short,
      |    sum(n_chars) AS sum_chars
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, n_unique,
      |  round(CAST(n_docs - n_unique AS DOUBLE) / n_docs + 1e-9, 6)
      |    AS dup_rate,
      |  round(CAST(n_short AS DOUBLE) / n_docs + 1e-9, 6) AS short_share,
      |  round(CAST(sum_chars AS DOUBLE) / n_docs + 1e-9, 4) AS mean_chars,
      |  ((n_docs - n_unique) * 10 <= n_docs AND n_short * 10 <= n_docs * 3)
      |    AS keep
      |FROM a""".stripMargin

  /** The engine-standard 64-bit CONTENT key both engines can compute
    * identically: the first 15 hex digits of sha256(text) as a
    * BIGINT (60 bits, always positive) — the [[SampleQueries
    * .hashBucket]] idiom at key width. Shared by
    * curation_domain_stats_approx and the streaming domain ledger so
    * their sketches are register-identical. */
  private[graft] def contentKey64: Column =
    expr("CAST(conv(substr(sha2(text, 256), 1, 15), 16, 10) AS BIGINT)")

  private[graft] val contentKey64Sql: String =
    "CAST('0x' || substr(sha256(text), 1, 15) AS BIGINT)"

  /** curation_domain_stats_approx — the per-source ledger at 100 TB
    * WIDTH: same exact counters as curation_domain_stats, but the
    * distinct-content term through the deterministic 4096-register
    * HLL sketch instead of an exact countDistinct — the mergeable
    * form whose register files a production deployment stores
    * per-(source, day) and rolls up by max-merge without rescanning
    * rows (agg_hll_partitioned's algebra), and the batch twin the
    * streaming domain ledger ([[graft.streaming.StreamingOps
    * .domainStatsStream]]) is pinned register-identical to. The one
    * approximate column is NAMED approx; dup_rate floors at 0
    * (an HLL overestimate on a dup-free source would otherwise go
    * negative) while the keep verdict keeps the raw integer form.
    *
    * Scale design: one corpus scan; the sketch aggregate ships ≤ m
    * register rows per (source, partition); everything downstream is
    * sources-sized. Full recompute oracle: the splitmix64/HUGEINT
    * register replay ([[RelationalQueries.hllOracleSql]]) over the
    * identical content key, composed with the exact ledger
    * aggregates. */
  def curationDomainStatsApprox(s: SparkSession, dir: String): DataFrame = {
    val keyed = documents(s, dir)
      .select(col("source"), contentKey64.as("k"),
        col("n_chars").cast("long").as("n_chars"))
    val base = keyed.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_chars") < 200).cast("long")).as("n_short"),
        sum(col("n_chars")).as("sum_chars"))
    val uniq = RelationalQueries.hllEstimate(
      RelationalQueries.hllRegisters(
        keyed.select(col("source"), col("k")), "source", "k"),
      "source", "n_unique_approx")
    base.join(uniq, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_unique_approx"),
        round(greatest(col("n_docs") - col("n_unique_approx"), lit(0L))
          .cast("double") / col("n_docs") + lit(1e-9), 6)
          .as("dup_rate_approx"),
        round(col("n_short").cast("double") / col("n_docs") + lit(1e-9), 6)
          .as("short_share"),
        round(col("sum_chars").cast("double") / col("n_docs") + lit(1e-9), 4)
          .as("mean_chars"),
        ((col("n_docs") - col("n_unique_approx")) * 10 <= col("n_docs") &&
          col("n_short") * 10 <= col("n_docs") * 3).as("keep"))
  }

  /** curation_domain_stats_approx oracle — exact ledger aggregates
    * joined with the full HLL register replay over the identical
    * content key. */
  val curationDomainStatsApproxSql: String =
    s"""WITH base AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_short,
       |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
       |  FROM documents GROUP BY source),
       |u AS (
       |  SELECT * FROM (WITH ${RelationalQueries.hllOracleSql(
              "documents", "source", contentKey64Sql,
              "n_unique_approx")}) z)
       |SELECT base.source, base.n_docs, u.n_unique_approx,
       |  round(CAST(greatest(base.n_docs - u.n_unique_approx, 0)
       |      AS DOUBLE) / base.n_docs + 1e-9, 6) AS dup_rate_approx,
       |  round(CAST(n_short AS DOUBLE) / n_docs + 1e-9, 6) AS short_share,
       |  round(CAST(sum_chars AS DOUBLE) / n_docs + 1e-9, 4) AS mean_chars,
       |  ((base.n_docs - u.n_unique_approx) * 10 <= base.n_docs
       |    AND n_short * 10 <= n_docs * 3) AS keep
       |FROM base JOIN u USING (source)""".stripMargin

  /** pipeline_split_leakage — the split-INTEGRITY ledger: per
    * language, how many distinct text contents the corpus holds, how
    * many are duplicated at all, and how many LEAK across
    * sample_split's train/val/test boundary (identical text under
    * different doc_ids hashing into different splits — the exact
    * failure an eval-set contamination audit exists to catch,
    * because the split is keyed by id while leakage is keyed by
    * CONTENT). A ledger, not a filter: the cross-split count is the
    * alarm column and is legitimately zero on a well-deduped corpus,
    * while the totals make the zero auditable.
    *
    * Scale design: one corpus scan → sha256 content key → ONE
    * map-side-combining (lang, hash) aggregate (content cardinality
    * bounded, never wider than the corpus) → a language-sized
    * rollup. The split rule is the SAME [[SampleQueries.hashBucket]]
    * expression sample_split publishes, so the audit can never
    * drift from the split it audits. */
  def pipelineSplitLeakage(s: SparkSession, dir: String): DataFrame =
    pipelineSplitLeakageFrom(documents(s, dir))

  /** Fixture seam: the planted-leak spec drives THIS method. */
  private[graft] def pipelineSplitLeakageFrom(d: DataFrame): DataFrame = {
    val bucket = SampleQueries.hashBucket(col("doc_id"))
    val per = d
      .select(col("lang"), sha2(col("text"), 256).as("h"),
        when(bucket < 980, "train").when(bucket < 990, "val")
          .otherwise("test").as("split"))
      .groupBy(col("lang"), col("h"))
      .agg(countDistinct(col("split")).as("ns"), count(lit(1)).as("nd"))
    per.groupBy(col("lang")).agg(
      sum(col("nd")).as("n_docs"),
      count(lit(1)).as("n_contents"),
      sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_contents"),
      sum(when(col("ns") >= 2, 1L).otherwise(0L))
        .as("n_cross_split_contents"))
  }

  /** pipeline_split_leakage oracle — same split rule, same content
    * key, same ledger. */
  val pipelineSplitLeakageSql: String =
    """WITH b AS (
      |  SELECT lang, sha256(text) AS h,
      |    CASE WHEN CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)),
      |           1, 6) AS BIGINT) % 1000 < 980 THEN 'train'
      |         WHEN CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)),
      |           1, 6) AS BIGINT) % 1000 < 990 THEN 'val'
      |         ELSE 'test' END AS split
      |  FROM documents),
      |p AS (SELECT lang, h, count(DISTINCT split) AS ns, count(*) AS nd
      |  FROM b GROUP BY 1, 2)
      |SELECT lang,
      |  CAST(sum(nd) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_contents,
      |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dup_contents,
      |  CAST(sum(CASE WHEN ns >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_cross_split_contents
      |FROM p GROUP BY lang""".stripMargin

  /** pipeline_split_leakage_near — the NEAR-duplicate completion of
    * the split-integrity audit: pipeline_split_leakage catches
    * identical text crossing the train/val/test boundary, but real
    * eval contamination is usually a near-copy (light paraphrase,
    * whitespace/punctuation drift), which an exact content hash can
    * never see. This ledger counts, per language, the verified
    * near-dup pairs (the dedup_near_minhash machinery: exact-collapse
    * → MinHash/LSH candidates → exact-Jaccard ≥ 0.8 verify, star
    * edges for verbatim copies) whose two sides land in DIFFERENT
    * splits — with the train↔eval subset broken out, because a
    * train/val+test pair is the one that poisons a benchmark.
    *
    * Scale design: the pair set is result-bounded by the minhash
    * stage's documented caps (never corpus²); the two metadata joins
    * attach (lang, split) — the SAME published hashBucket rule the
    * other audits share — and the rollup is language-sized. Columns
    * are exact integers; the oracle recomputes the WHOLE chain by
    * composing the bitwise minhash recompute with the split rule. */
  def pipelineSplitLeakageNear(s: SparkSession, dir: String): DataFrame =
    pipelineSplitLeakageNearFrom(documents(s, dir))

  private[graft] def pipelineSplitLeakageNearFrom(d: DataFrame): DataFrame = {
    val bucket = SampleQueries.hashBucket(col("doc_id"))
    val m = d.select(col("doc_id"), col("lang"),
      when(bucket < 980, "train").when(bucket < 990, "val")
        .otherwise("test").as("split"))
    DedupQueries.dedupNearMinhashFrom(d)
      .select(col("a"), col("b"))
      .join(m.select(col("doc_id").as("a"), col("lang"),
        col("split").as("sa")), Seq("a"))
      .join(m.select(col("doc_id").as("b"), col("split").as("sb")),
        Seq("b"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
          .as("n_cross_split_pairs"),
        sum(when((col("sa") === "train") =!= (col("sb") === "train"),
          1L).otherwise(0L)).as("n_train_eval_pairs"))
  }

  /** pipeline_split_leakage_near oracle — the full bitwise minhash
    * pair recompute composed with the same split rule and rollup. */
  val pipelineSplitLeakageNearSql: String =
    s"""WITH pairs AS (
       |  SELECT * FROM (${DedupQueries.dedupNearMinhashSql}) z),
       |m AS (
       |  SELECT doc_id, lang,
       |    CASE WHEN CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)),
       |           1, 6) AS BIGINT) % 1000 < 980 THEN 'train'
       |         WHEN CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)),
       |           1, 6) AS BIGINT) % 1000 < 990 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents),
       |j AS (
       |  SELECT ma.lang AS lang, ma.split AS sa, mb.split AS sb
       |  FROM pairs p
       |  JOIN m ma ON ma.doc_id = p.a
       |  JOIN m mb ON mb.doc_id = p.b)
       |SELECT lang,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_cross_split_pairs,
       |  CAST(sum(CASE WHEN (sa = 'train') <> (sb = 'train')
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_train_eval_pairs
       |FROM j GROUP BY lang""".stripMargin

  /** curation_datasheet — the per-source "Datasheets for Datasets"
    * card a corpus release publishes: document and language counts,
    * whitespace-token total (the budget number), the Gopher keep
    * rate (delegating to the published rule card — one rule
    * definition in the engine), and mean quality. Complements
    * curation_domain_stats (volume/dup/short ledger) with the
    * quality dimensions.
    *
    * Round 17: plus the published URL-quality prior — each doc's
    * domain centrality from graph_host_rank (the PageRank the crawl's
    * own link graph yields, the CommonCrawl-host-rank/RefinedWeb
    * signal), floor-mean'd per source as `host_rank_prior`.
    *
    * Determinism discipline: every mean rides an INTEGER sum — the
    * per-doc quality quantizes to the 10⁴ grid BEFORE aggregation
    * (floor(q·10⁴+½) as long), keeps are 0/1 longs, the rank prior is
    * fixed-point BIGINT with one floor division per source — so
    * partitioning cannot move a unit.
    * One corpus pass (the gopher card + quality are row-local), one
    * hash aggregate to |sources| rows; the 10-row rank table joins
    * broadcast. */
  /** Memoized composed inputs of [[curationDatasheet]] (VERDICT r17
    * finding #2): both are tiny, corpus-fingerprint-stable outputs of
    * EXPENSIVE chains — the host-rank table re-parses the WARC
    * archives for 10 rows (the DSIR selection rides
    * [[dsirSelectMemo]]) — so the datasheet was paying both on every
    * call. The knn_graph discipline: keyed on (dir, corpus
    * fingerprint), regeneration in place is a new key, and the
    * memoized value is a session-free driver array (≤ |domains| rows
    * — the documented bounded-driver-read class). */
  private val datasheetRankMemo = new BuildMemo[Seq[(String, Long)]]()

  private def hostRankRows(s: SparkSession, dir: String): DataFrame = {
    val fp = IndexManifest.corpusFingerprint(dir, "documents")
    val rows = datasheetRankMemo.getOrBuild(s"$dir|$fp",
      s.sparkContext) {
      MemoBuilds.record("datasheet_hostrank")
      WarcQueries.graphHostRank(s, dir)
        .select(col("domain"), col("rank_fp"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    import s.implicits._
    rows.toDF("domain", "rank_fp")
  }

  def curationDatasheet(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val keep = TextQueries.gopherRulesFrom(docs)
      .select(col("doc_id"), col("keep").cast("long").as("k"))
    val ranks = hostRankRows(s, dir)
    // the DSIR draw is budget-bounded and served by dsirSelectMemo →
    // broadcast membership flag, no chain re-run
    val dsel = pipelineDsirSelect(s, dir)
      .select(col("doc_id"), lit(1L).as("ds"))
    // the URL gate's verdict is pure doc_id arithmetic (domain =
    // doc_id % 10, blocked residues derived from the blocklist), so
    // the datasheet rolls it in without re-running the URL chain
    val urlKeep = !(col("doc_id") % 10)
      .isin(URL_BLOCKED_IDX.map(_.toLong): _*)
    docs
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("wt"),
        floor(TextQueries.QualityScore.quality * lit(10000.0) + lit(0.5))
          .as("qi"),
        urlKeep.cast("long").as("uk"),
        element_at(typedLit(URL_DOMAINS),
          (col("doc_id") % 10 + 1).cast("int")).as("domain"))
      .join(keep, Seq("doc_id"))
      .join(broadcast(ranks), Seq("domain"))
      .join(broadcast(dsel), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(col("wt")).as("ws_tokens"),
        round(sum(col("k")).cast("double") / count(lit(1)) + lit(1e-9), 4)
          .as("gopher_keep_rate"),
        round(sum(col("qi")).cast("double") / count(lit(1)) / lit(10000.0)
          + lit(1e-9), 4).as("mean_quality"),
        round(sum(col("uk")).cast("double") / count(lit(1)) + lit(1e-9), 4)
          .as("url_keep_rate"),
        expr("sum(rank_fp) DIV count(1)").as("host_rank_prior"),
        round(sum(coalesce(col("ds"), lit(0L))).cast("double") /
          count(lit(1)) + lit(1e-9), 4).as("dsir_keep_rate"))
  }

  lazy val curationDatasheetSql: String =
    // the gopher card is substituted AFTER stripMargin (it contains
    // no margin-colliding lines today, but the fertility lesson says
    // never re-marginalize embedded SQL)
    s"""WITH RECURSIVE ${WarcQueries.linkEdgeCtes},
      |${WarcQueries.hostRankCtes},
      |g AS (
      |  SELECT doc_id, CAST(keep AS BIGINT) AS k FROM (%GOPHER%)),
      |d AS (
      |  SELECT doc_id, source, lang,
      |    len(string_split(text, ' ')) AS wt,
      |    CAST(floor(%QUALITY% * 10000.0 + 0.5) AS BIGINT) AS qi,
      |    CASE WHEN doc_id % 10 IN (%BLOCKED%) THEN 0 ELSE 1 END AS uk,
      |    CAST(doc_id % 10 AS INT) AS dd
      |  FROM documents),
      |dsel AS (SELECT doc_id, CAST(1 AS BIGINT) AS ds FROM (%DSIR%))
      |SELECT d.source,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
      |  CAST(sum(d.wt) AS BIGINT) AS ws_tokens,
      |  round(CAST(sum(g.k) AS DOUBLE) / count(*) + 1e-9, 4)
      |    AS gopher_keep_rate,
      |  round(CAST(sum(d.qi) AS DOUBLE) / count(*) / 10000.0 + 1e-9, 4)
      |    AS mean_quality,
      |  round(CAST(sum(d.uk) AS DOUBLE) / count(*) + 1e-9, 4)
      |    AS url_keep_rate,
      |  CAST(sum(r.rank_fp) // count(*) AS BIGINT) AS host_rank_prior,
      |  round(CAST(sum(COALESCE(dsel.ds, 0)) AS DOUBLE) / count(*)
      |    + 1e-9, 4) AS dsir_keep_rate
      |FROM d JOIN g USING (doc_id)
      |JOIN hrank r ON r.v = d.dd
      |LEFT JOIN dsel USING (doc_id)
      |GROUP BY d.source""".stripMargin
      .replace("%GOPHER%", TextQueries.textGopherRulesSql)
      .replace("%QUALITY%", TextQueries.QualityScore.QUALITY_SQL)
      .replace("%BLOCKED%", URL_BLOCKED_IDX.mkString(", "))
      .replace("%DSIR%", pipelineDsirSelectSql)

  // ── pipeline_dsir_select — Data Selection via Importance
  // Resampling (Xie et al. 2023, the published pre-training
  // selection standard): estimate a hashed-n-gram LM of a TARGET
  // domain and of the RAW pool, weight every raw doc by its
  // log-likelihood ratio, and draw a token budget by Gumbel top-k
  // (sampling ∝ exp(λ) made deterministic and engine-reproducible
  // the sample_weighted way — the perturbation comes from the doc's
  // content hash, not rand()) ──

  private[operators] val DSIR_BUCKETS = 4096
  private[operators] val DSIR_BUDGET = 4000L
  /** Word-hash modulus — keeps the combined bigram arithmetic in int
    * range. */
  private[operators] val DSIR_WORD_MOD = 1 << 20

  /** O(1) per-word fingerprint: a 31-polynomial over the word's
    * FIRST FOUR characters plus 7·length — four substr/code reads
    * per word, no char-array allocation (a full char fold ran the
    * hot explode ~4× slower at sf0.1; feature hashing tolerates the
    * truncation by design — DSIR buckets collide anyway, and a
    * production run swaps in FNV over the full word). Chars past the
    * end contribute 0: Spark's ascii('') is 0, and the oracle's
    * greatest(unicode(''), 0) maps DuckDB's -1 to the same 0 — no
    * per-char branch in either engine. */
  private def wordHash(w: Column): Column = {
    def cc(k: Int): Column = ascii(w.substr(lit(k), lit(1)))
    (((cc(1) * 31 + cc(2)) * 31 + cc(3)) * 31 + cc(4) +
      length(w) * 7) % DSIR_WORD_MOD
  }

  /** Per-doc hashed-BIGRAM feature list:
    * f_i = (h(w_i)·31 + h(w_{i+1})) mod DSIR_BUCKETS, built as
    * zip_with over two SLICES of the per-word hash array. NOT
    * element_at inside a transform lambda: a lambda-positional
    * element_at(hw, i) inlines the WHOLE hw expression per element —
    * Catalyst re-evaluates the per-word transform for every bigram,
    * turning the explode O(words²) per doc (measured 4× the whole
    * qid's wall at sf0.1 before the slice form). */
  private def dsirFeats(text: Column): Column = {
    val hw = transform(split(text, " "), w => wordHash(w))
    val n = size(hw)
    when(n >= 2,
      zip_with(slice(hw, lit(1), n - 1), slice(hw, lit(2), n - 1),
        (a, b) => (a * 31 + b) % DSIR_BUCKETS))
      .otherwise(typedLit(Seq.empty[Int]))
  }

  /** The whole chain over any documents frame: `isTarget` marks the
    * target-domain rows (the gate instance uses lang = 'en'); raw =
    * the rest. Output: the SELECTED raw docs (doc_id, lang, source,
    * n_tok, key) — the budget-bounded draw. */
  private[graft] def pipelineDsirSelectFrom(
      d: DataFrame, isTarget: Column,
      budget: Long = DSIR_BUDGET): DataFrame = {
    val B = DSIR_BUCKETS
    // persist FOR THE DRAW'S DURATION: the feature stream feeds the
    // LM aggregation AND the per-doc λ — without it Spark re-runs the
    // explode per consumer. Released after the eager checkpoint below
    // (repeat invocations are served by the dsirSelectMemo instead).
    // At 100 TB this is the standard "materialize features once"
    // intermediate a production run lands on storage — and then
    // deletes, not pins in executor memory.
    val feats = SkewUtils.fanOutSmallScan(
        d.select(col("doc_id"), col("lang"), col("source"),
          isTarget.as("tgt"), col("text")))
      .select(col("doc_id"), col("lang"), col("source"), col("tgt"),
        explode(dsirFeats(col("text"))).as("f"))
      .persist()
    // the two LMs from ONE feature aggregation (Spark has no subtree
    // reuse — separate tcnt/rcnt/tots aggregates re-ran the explode
    // per branch); counts is ≤ 2·B rows → broadcast everywhere
    val counts = feats.groupBy(col("tgt"), col("f"))
      .agg(count(lit(1)).as("c"))
    val tcnt = counts.filter(col("tgt"))
      .select(col("f"), col("c").as("tc"))
    val rcnt = counts.filter(!col("tgt"))
      .select(col("f"), col("c").as("rc"))
    val ttot = counts.filter(col("tgt"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("tt"))
    val rtot = counts.filter(!col("tgt"))
      .agg(coalesce(sum(col("c")), lit(0L)).as("rt"))
    // λ(d) = Σ_f n_df·(ln p_t(f) − ln p_r(f)), add-one over buckets
    val lam = feats.filter(!col("tgt"))
      .groupBy(col("doc_id"), col("lang"), col("source"), col("f"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(tcnt), Seq("f"), "left")
      .join(broadcast(rcnt), Seq("f"), "left")
      .crossJoin(broadcast(ttot)).crossJoin(broadcast(rtot))
      .groupBy(col("doc_id"), col("lang"), col("source"))
      .agg(sum(col("n").cast("double") *
        (log((coalesce(col("tc"), lit(0L)) + 1L).cast("double") /
          (col("tt") + B).cast("double")) -
          log((coalesce(col("rc"), lit(0L)) + 1L).cast("double") /
            (col("rt") + B).cast("double")))).as("lw"),
        sum(col("n")).as("n_tok_f"))
    // Gumbel perturbation from the content hash (sample_weighted's
    // uniform), key rounded BEFORE the ordering so the budget cutoff
    // is engine-stable
    val u = (conv(substring(sha2(col("doc_id").cast("string"), 256),
      1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    val keyed = lam
      .join(d.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
        Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tok"),
        round(col("lw") - log(-log(u)) + lit(1e-9), 6).as("key"))
      .persist() // three consumers: boundary sample + both draw passes
    // the budget cutoff as the two-pass distributed prefix-sum draw:
    // deterministic key boundaries (sort_range_partition sample) →
    // per-range local cumsums + a broadcast per-range offset — the
    // same rows as the global (key DESC, doc_id) window without the
    // whole raw doc set landing on one WindowExec partition
    val bounds = BudgetDraw.keyRangeBounds(keyed, "doc_id", "key")
    val kept = BudgetDraw.keptByBudget(keyed,
      groupCols = Seq.empty,
      rangeId = BudgetDraw.descKeyRange(col("key"), bounds),
      orderCols = Seq(col("key").desc, col("doc_id")),
      tokCol = "n_tok", budget = budget)
    // the selected set is budget-bounded → eager checkpoint pins it
    // and releases BOTH working caches (the curriculumDraws
    // lifecycle). feats especially: a corpus-sized exploded bigram
    // frame left resident for the session competed with every
    // later-running operator's aggregates for unified memory — the
    // profiled cause of the r17 text_langid_nb bench drift (finding
    // #3: isolated min 2.6 s, bench-context min 3.8 s).
    val out = kept.localCheckpoint(eager = true)
    keyed.unpersist()
    feats.unpersist()
    out
  }

  /** pipeline_dsir_select — the gate instance: target = lang 'en'
    * (the curated-domain stand-in), raw = everything else, budget =
    * DSIR_BUDGET tokens.
    *
    * Scale shape: feature hashing is row-local integer folds (no
    * crypto per gram); both LMs are DSIR_BUCKETS-bounded broadcast
    * tables; λ is one partial-aggregating groupBy per raw doc; the
    * only global structure is the budget cutoff, which RUNS as the
    * two-pass distributed prefix-sum draw (BudgetDraw: deterministic
    * key-range boundaries → per-range cumsums + broadcast offsets,
    * budget-unreachable ranges pruned before the shuffle); the
    * selected set is budget-bounded. The planted spec (DsirSelectSpec) pins
    * target-domain recovery; the oracle replays hashing, both LMs,
    * λ, the Gumbel keys, and the cutoff. */
  /** The gate instance's selection memo: the output is budget-bounded
    * (≤ DSIR_BUDGET rows — every doc carries ≥ 1 token) and
    * corpus-fingerprint-stable, so repeat invocations replay a driver
    * array instead of re-running the feature/LM/λ chain (the
    * knn_graph discipline; regeneration in place is a new key). */
  private val dsirSelectMemo =
    new BuildMemo[Seq[(Long, String, String, Long, Double)]]()

  def pipelineDsirSelect(s: SparkSession, dir: String): DataFrame = {
    val fp = IndexManifest.corpusFingerprint(dir, "documents")
    val rows = dsirSelectMemo.getOrBuild(s"$dir|$fp", s.sparkContext) {
      MemoBuilds.record("dsir_select")
      pipelineDsirSelectFrom(documents(s, dir), col("lang") === "en")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSeq
    }
    import s.implicits._
    rows.toDF("doc_id", "lang", "source", "n_tok", "key")
  }

  lazy val pipelineDsirSelectSql: String = {
    val B = DSIR_BUCKETS
    val M = DSIR_WORD_MOD
    s"""WITH hw AS (
       |  SELECT doc_id, lang, source, lang = 'en' AS tgt,
       |    list_transform(string_split(text, ' '), w ->
       |      (((greatest(unicode(substr(w, 1, 1)), 0) * 31
       |        + greatest(unicode(substr(w, 2, 1)), 0)) * 31
       |        + greatest(unicode(substr(w, 3, 1)), 0)) * 31
       |        + greatest(unicode(substr(w, 4, 1)), 0)
       |        + len(w) * 7) % $M) AS hws,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
       |  FROM documents),
       |fe AS (
       |  SELECT doc_id, lang, source, tgt, n_tok,
       |    (hws[g.i] * 31 + hws[g.i + 1]) % $B AS f
       |  FROM hw, unnest(generate_series(1, greatest(len(hws) - 1, 0)))
       |    AS g(i)),
       |tcnt AS (SELECT f, count(*) AS tc FROM fe WHERE tgt GROUP BY f),
       |rcnt AS (SELECT f, count(*) AS rc FROM fe WHERE NOT tgt
       |  GROUP BY f),
       |ttot AS (SELECT count(*) AS tt FROM fe WHERE tgt),
       |rtot AS (SELECT count(*) AS rt FROM fe WHERE NOT tgt),
       |dfc AS (
       |  SELECT doc_id, lang, source, n_tok, f, count(*) AS n
       |  FROM fe WHERE NOT tgt GROUP BY 1, 2, 3, 4, 5),
       |lam AS (
       |  SELECT doc_id, lang, source, any_value(n_tok) AS n_tok,
       |    sum(CAST(n AS DOUBLE) *
       |      (ln(CAST(COALESCE(tc, 0) + 1 AS DOUBLE)
       |          / CAST(tt + $B AS DOUBLE))
       |       - ln(CAST(COALESCE(rc, 0) + 1 AS DOUBLE)
       |          / CAST(rt + $B AS DOUBLE)))) AS lw
       |  FROM dfc
       |  LEFT JOIN tcnt USING (f)
       |  LEFT JOIN rcnt USING (f)
       |  CROSS JOIN ttot CROSS JOIN rtot
       |  GROUP BY doc_id, lang, source),
       |keyed AS (
       |  SELECT doc_id, lang, source, n_tok,
       |    round(lw - ln(-ln(
       |      (CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 8)
       |        AS BIGINT) + 0.5) / 4294967296.0)) + 1e-9, 6) AS key
       |  FROM lam),
       |cum AS (
       |  SELECT doc_id, lang, source, n_tok, key,
       |    sum(n_tok) OVER (ORDER BY key DESC, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
       |  FROM keyed)
       |SELECT doc_id, lang, source, n_tok, key
       |FROM cum WHERE c - n_tok < $DSIR_BUDGET""".stripMargin
  }

  /** curation_ensemble — the agreement card across the engine's FOUR
    * independent quality gates, the published-practice ensemble
    * (FineWeb/Dolma-style pipelines never trust a single filter):
    * Gopher rules (hand-written card), the perplexity gate (CCNet
    * shape), the heuristic quality-quantile filter, and the TRAINED
    * linear filter — evaluated on the held-out split the linear
    * model scores, grouped by the 4-bit verdict pattern with a
    * ≥3-of-4 majority keep. The card is what a curation run reads to
    * see WHERE the filters disagree (the pattern rows with split
    * verdicts are the audit queue).
    *
    * Scale shape: each verdict is the already-verified operator's
    * plan (row-local cards, bounded-model broadcasts, the driver-
    * gated trainer); composition is three co-partitioned doc_id
    * joins and ONE hash agg to ≤16 pattern rows. Oracle: all four
    * kernels replayed in SQL — the linear chain's recursive CTEs
    * nest as a subquery — joined and re-aggregated identically. */
  def curationEnsemble(s: SparkSession, dir: String): DataFrame = {
    val d = documents(s, dir)
    val g = TextQueries.gopherRulesFrom(d)
      .select(col("doc_id"), col("keep").as("g"))
    val p = TextQueries.textPplFilter(s, dir)
      .select(col("doc_id"), col("keep").as("p"))
    val scored = TextQueries.textQuality(s, dir)
      .select(col("doc_id"), col("quality"))
    val thr = scored.agg(
      round(expr("percentile(quality, 0.2)") + lit(1e-9), 6).as("thr"))
    val q = scored.crossJoin(broadcast(thr))
      .select(col("doc_id"), (col("quality") >= col("thr")).as("q"))
    val l = LinearClassifyQueries.textQualityLinear(s, dir)
      .select(col("doc_id"), (col("pred_quality") === "hq").as("lk"))
    l.join(g, Seq("doc_id")).join(p, Seq("doc_id")).join(q, Seq("doc_id"))
      .groupBy(col("g").as("gopher_keep"), col("p").as("ppl_keep"),
        col("q").as("quality_keep"), col("lk").as("linear_keep"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("ensemble_keep",
        (col("gopher_keep").cast("int") + col("ppl_keep").cast("int") +
          col("quality_keep").cast("int") +
          col("linear_keep").cast("int")) >= 3)
  }

  lazy val curationEnsembleSql: String =
    s"""WITH gph AS (SELECT doc_id, keep AS g FROM (%GOPHER%) x),
       |pplv AS (SELECT doc_id, keep AS p FROM (%PPL%) y),
       |qsc AS (SELECT doc_id, quality FROM (%QUALITY%) z),
       |qthr AS (SELECT round(quantile_cont(quality, 0.2) + 1e-9, 6)
       |  AS thr FROM qsc),
       |qlt AS (SELECT qsc.doc_id, qsc.quality >= qthr.thr AS q
       |  FROM qsc, qthr),
       |lpred AS (%LIN%),
       |j AS (SELECT l.pred_quality = 'hq' AS lk, gph.g, pplv.p, qlt.q
       |  FROM lpred l JOIN gph USING (doc_id)
       |  JOIN pplv USING (doc_id) JOIN qlt USING (doc_id))
       |SELECT g AS gopher_keep, p AS ppl_keep, q AS quality_keep,
       |  lk AS linear_keep, CAST(count(*) AS BIGINT) AS n_docs,
       |  (CAST(g AS INT) + CAST(p AS INT) + CAST(q AS INT)
       |    + CAST(lk AS INT)) >= 3 AS ensemble_keep
       |FROM j GROUP BY 1, 2, 3, 4""".stripMargin
      .replace("%GOPHER%", TextQueries.textGopherRulesSql)
      .replace("%PPL%", TextQueries.textPplFilterSql)
      .replace("%QUALITY%", TextQueries.textQualitySql)
      .replace("%LIN%", LinearClassifyQueries.textQualityLinearSql)

  // ── pipeline_curriculum — the two-phase data schedule ──

  /** Token budgets per language for the two stages. Fixed constants
    * (the [[SampleQueries.LANG_BUDGET]] idiom): at any corpus size
    * the schedule is a budget CONTRACT, not a fraction. */
  private[operators] val CURR_ANNEAL_BUDGET = 600L
  private[operators] val CURR_BULK_BUDGET = 2400L

  /** pipeline_curriculum — the published two-phase training-data
    * schedule (bulk pre-train, then a final high-quality ANNEAL
    * phase): per language, stage `anneal` draws from the TOP-2
    * quality deciles up to its token budget, then stage `bulk` draws
    * from deciles 1–8 (bottom 20% never trains) EXCLUDING the anneal
    * picks — the two stages are disjoint so the schedule's token
    * accounting is exact. Both draws use the engine's one packing
    * rule: hash-bucket order with a per-language cumulative-token
    * admission (sample_token_budget), so the schedule is
    * reproducible across runs, engines, and partitionings. Output:
    * the per-(stage, lang) schedule card with the decile span
    * actually drawn.
    *
    * Scale shape: deciles are one window per language; each draw is
    * one more window over the eligible slice; the anneal exclusion
    * is a broadcast anti-join on a BUDGET-BOUNDED set, and both draws
    * return to the driver as local relations (≤ budget tokens per
    * lang → driver-safe by construction). */
  /** The two stage draws as row sets (doc_id, n_tok, bucket, lang,
    * decile) — the seam the spec pins (disjointness, decile gates,
    * budget bound, partition invariance). */
  private[graft] def curriculumDraws(
      s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val dec = TextQueries.textQualityDecile(s, dir)
      .select(col("doc_id"), col("lang"), col("decile"))
    // Checkpointed: BOTH stage draws read this frame (anneal's
    // eligible slice, bulk's slice + the anti-join), so without it
    // the quality-decile window chain re-ran once per consumer
    // (guide §7.2). Narrow 5-column rows; ContextCleaner-reclaimed.
    val tok = documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        SampleQueries.hashBucket(col("doc_id")).as("bucket"))
      .join(dec, Seq("doc_id"))
      .localCheckpoint(false)
    // each draw is the two-pass distributed prefix sum — same rows
    // as the per-lang cumulative window, no single-partition-style
    // lang funnel, only budget-reachable ranges shuffled
    def draw(elig: DataFrame, budget: Long): DataFrame =
      BudgetDraw.keptByBudget(elig,
        groupCols = Seq("lang"),
        rangeId = BudgetDraw.bucketRange(col("bucket"),
          SampleQueries.HASH_BUCKETS),
        orderCols = Seq(col("bucket"), col("doc_id")),
        tokCol = "n_tok", budget = budget)
    // both draws are budget-bounded (≤ budget rows per lang: every
    // doc carries ≥ 1 token), so each returns as a collected local
    // relation and the shared decile checkpoint is released before
    // return — no cached or checkpointed frame outlives the call, so
    // nothing is left for driver GC to reclaim (ADVICE r17 cache
    // hygiene; checkpoint blocks are invisible to Dataset.unpersist,
    // so tok needs the real release)
    try {
      val anneal = IndexServe.collected(s,
        draw(tok.filter(col("decile") <= 2), CURR_ANNEAL_BUDGET))
      val bulk = IndexServe.collected(s, draw(
        tok.filter(col("decile") <= 8)
          .join(broadcast(anneal.select(col("doc_id"))),
            Seq("doc_id"), "left_anti"),
        CURR_BULK_BUDGET))
      (anneal, bulk)
    } finally {
      org.apache.spark.sql.graftbridge.GraftExpr.releaseLocalCheckpoint(tok)
    }
  }

  def pipelineCurriculum(s: SparkSession, dir: String): DataFrame = {
    val (anneal, bulk) = curriculumDraws(s, dir)
    def card(stage: String, d: DataFrame): DataFrame =
      d.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          min(col("decile")).as("top_decile"),
          max(col("decile")).as("bottom_decile"))
        .select(lit(stage).as("stage"), col("lang"), col("n_docs"),
          col("n_tokens"), col("top_decile"), col("bottom_decile"))
    card("anneal", anneal).unionByName(card("bulk", bulk))
  }

  lazy val pipelineCurriculumSql: String =
    s"""WITH dec AS (
       |  SELECT doc_id, lang,
       |    CAST(ntile(10) OVER (PARTITION BY lang
       |      ORDER BY ${TextQueries.QualityScore.QUALITY_SQL} DESC,
       |        doc_id) AS BIGINT) AS decile,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
       |    CAST('0x' || substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6)
       |      AS BIGINT) % 1000 AS bucket
       |  FROM documents),
       |ann AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, decile, n_tok,
       |      sum(n_tok) OVER (PARTITION BY lang ORDER BY bucket, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM dec WHERE decile <= 2)
       |  WHERE cum - n_tok < $CURR_ANNEAL_BUDGET),
       |blk AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, decile, n_tok,
       |      sum(n_tok) OVER (PARTITION BY lang ORDER BY bucket, doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |    FROM dec WHERE decile <= 8
       |      AND NOT EXISTS (SELECT 1 FROM ann WHERE ann.doc_id = dec.doc_id))
       |  WHERE cum - n_tok < $CURR_BULK_BUDGET)
       |SELECT 'anneal' AS stage, lang, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(min(decile) AS BIGINT) AS top_decile,
       |  CAST(max(decile) AS BIGINT) AS bottom_decile
       |FROM ann GROUP BY lang
       |UNION ALL
       |SELECT 'bulk', lang, CAST(count(*) AS BIGINT),
       |  CAST(sum(n_tok) AS BIGINT), CAST(min(decile) AS BIGINT),
       |  CAST(max(decile) AS BIGINT)
       |FROM blk GROUP BY lang""".stripMargin

  // ── pipeline_mix_epochs — the data-constrained repetition plan ──

  /** Global training token budget the epoch plan allocates. Fixed
    * (the budget-contract idiom): the plan answers "how often must
    * each subset repeat to fill THIS run". */
  private[operators] val MIX_TRAIN_BUDGET = 100000L

  /** Epoch ceiling: repeating data beyond ~4 epochs returns almost
    * nothing (the published data-constrained-scaling rule), so the
    * plan caps repetition there and reports the shortfall instead of
    * pretending the budget was met. */
  private[operators] val MIX_MAX_EPOCHS = 4L

  /** pipeline_mix_epochs — the repetition plan a data-constrained
    * training run needs: per language, the temperature-weighted
    * token TARGET for this run's budget, how many epochs of the
    * unique corpus that takes (capped at [[MIX_MAX_EPOCHS]]), the
    * tokens actually served under the cap, and how many of those are
    * repeats. Weights are THE sample_temperature formula (shared
    * kernel, so mixture and plan cannot drift); all downstream
    * arithmetic is integer floor/ceil, reproducible anywhere.
    *
    * Scale shape: one per-language token agg (map-side partial) and
    * a |langs|-row broadcast of the normalizer — nothing else. */
  def pipelineMixEpochs(s: SparkSession, dir: String): DataFrame = {
    val perLang = documents(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
      .groupBy(col("lang")).agg(sum(col("n_tok")).as("n_tokens"))
    SampleQueries.temperatureWeightsFrom(perLang)
      .select(col("lang"), col("n_tokens"), col("q"))
      .withColumn("target_tokens",
        floor(col("q") * MIX_TRAIN_BUDGET + lit(1e-9)).cast("long"))
      .withColumn("epochs",
        least(
          expr("(target_tokens + n_tokens - 1) DIV n_tokens"),
          lit(MIX_MAX_EPOCHS)))
      .withColumn("served_tokens",
        least(col("target_tokens"), col("n_tokens") * MIX_MAX_EPOCHS))
      .withColumn("repeated_tokens",
        greatest(col("served_tokens") - col("n_tokens"), lit(0L)))
  }

  lazy val pipelineMixEpochsSql: String =
    s"""WITH pl AS (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT)
       |    AS n_tokens
       |  FROM documents GROUP BY lang),
       |tot AS (SELECT sum(power(CAST(n_tokens AS DOUBLE),
       |  ${SampleQueries.ALPHA})) AS z FROM pl),
       |w AS (
       |  SELECT lang, n_tokens,
       |    round(power(CAST(n_tokens AS DOUBLE), ${SampleQueries.ALPHA})
       |      / z + 1e-9, 4) AS q
       |  FROM pl CROSS JOIN tot),
       |plan AS (
       |  SELECT lang, n_tokens, q,
       |    CAST(floor(q * $MIX_TRAIN_BUDGET + 1e-9) AS BIGINT)
       |      AS target_tokens
       |  FROM w)
       |SELECT lang, n_tokens, q, target_tokens,
       |  least((target_tokens + n_tokens - 1) // n_tokens,
       |    $MIX_MAX_EPOCHS) AS epochs,
       |  least(target_tokens, n_tokens * $MIX_MAX_EPOCHS)
       |    AS served_tokens,
       |  greatest(least(target_tokens, n_tokens * $MIX_MAX_EPOCHS)
       |    - n_tokens, 0) AS repeated_tokens
       |FROM plan""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curation_ensemble" -> (curationEnsemble _),
    "pipeline_curriculum" -> (pipelineCurriculum _),
    "pipeline_mix_epochs" -> (pipelineMixEpochs _),
    "pipeline_dsir_select" -> (pipelineDsirSelect _),
    "pipeline_split_leakage_near" -> (pipelineSplitLeakageNear _),
    "curation_url_filter" -> (curationUrlFilter _),
    "curation_robots_filter" -> (curationRobotsFilter _),
    "pipeline_clean_corpus" -> (pipelineCleanCorpus _),
    "curation_datasheet" -> (curationDatasheet _),
    "pipeline_build_mixture" -> (pipelineBuildMixture _),
    "curation_domain_stats" -> (curationDomainStats _),
    "pipeline_split_leakage" -> (pipelineSplitLeakage _),
    "curation_domain_stats_approx" -> (curationDomainStatsApprox _)
  )

  def oracle: Map[String, String] = Map(
    "curation_ensemble" -> curationEnsembleSql,
    "pipeline_curriculum" -> pipelineCurriculumSql,
    "pipeline_mix_epochs" -> pipelineMixEpochsSql,
    "pipeline_dsir_select" -> pipelineDsirSelectSql,
    "pipeline_split_leakage_near" -> pipelineSplitLeakageNearSql,
    "curation_url_filter" -> curationUrlFilterSql,
    "curation_robots_filter" -> curationRobotsFilterSql,
    "pipeline_clean_corpus" -> pipelineCleanCorpusSql,
    "curation_datasheet" -> curationDatasheetSql,
    "pipeline_build_mixture" -> pipelineBuildMixtureSql,
    "curation_domain_stats" -> curationDomainStatsSql,
    "pipeline_split_leakage" -> pipelineSplitLeakageSql,
    "curation_domain_stats_approx" -> curationDomainStatsApproxSql
  )
}
