package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.UrlKernels

/** URL operators — the filtering/dedup keys of a web-crawl pipeline
  * (C4/RefinedWeb-style curation filters by domain and deduplicates by
  * normalized URL before any text operator runs, because it's the cheapest
  * possible gate: pure string ops on a short column).
  *
  * The public API is backed by the single-pass native kernels in
  * [[graft.functions.UrlKernels]] — one compact codegen'd scan per field.
  * The original `regexp_extract`-per-field Column formulation IS the
  * semantics (the DuckDB oracles mirror its regexes), but it inlined ~15
  * regex engines per row into the generated Java, and the Janino compile
  * of that expression tree dominated whole queries at bench scale. Kernel ≡
  * that regexp formulation is pinned by `UrlKernelsSpec` on fuzzed URLs.
  *
  * The parse is the pragmatic crawl-pipeline subset of RFC 3986:
  * `scheme://host[:port][/path][?query][#fragment]` — userinfo is not
  * split out (crawlers drop such URLs upstream), and a URL that doesn't
  * match the shape yields null fields (callers treat null host as "not a
  * fetchable URL" and quarantine/drop).
  */
object UrlOps {

  /** Lowercased scheme, or null if the value doesn't start `scheme://`. */
  def urlScheme(u: Column): Column = UrlKernels.urlScheme(u)

  /** Lowercased host with any `:port` stripped; null for non-URLs. */
  def urlHost(u: Column): Column = UrlKernels.urlHost(u)

  /** Explicit port as a long, or null when absent. */
  def urlPort(u: Column): Column = UrlKernels.urlPort(u)

  /** Path component as written; empty path reads as "/" (normal form). */
  def urlPath(u: Column): Column = UrlKernels.urlPath(u)

  /** Query string (sans `?`), or null when absent. */
  def urlQuery(u: Column): Column = UrlKernels.urlQuery(u)

  /** Multi-label public suffixes where the registrable domain is THREE
    * labels (`bbc.co.uk`), not two. The real Public Suffix List is ~9k
    * entries and ships as data; this literal core covers the common
    * ccTLD second-level registries and is the lookup the full list would
    * drop into (a broadcast hash-set probe either way).
    */
  val multiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk",
    "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp",
    "com.br", "com.cn", "com.mx", "co.in", "co.kr", "co.za")

  /** Registrable domain of a host: last two labels, or last three when the
    * last two form a multi-label public suffix. A host with fewer labels
    * than needed returns itself. IP-literal hosts return themselves (no
    * label semantics).
    */
  def registeredDomain(host: Column): Column =
    UrlKernels.registeredDomain(host, multiLabelSuffixes)

  /** Crawl-normal form: scheme and host lowercased, default port dropped
    * (80 for http, 443 for https), other ports kept, empty path → "/",
    * query kept as written, fragment dropped. Null for non-URLs (no
    * scheme/host) — normalization must not fabricate fetchable URLs.
    */
  def normalizeUrl(u: Column): Column = UrlKernels.normalizeUrl(u)

  /** Drop rows whose registrable domain is on the blocklist. For a literal
    * list this is a codegen'd gate; a blocklist that is itself a dataset
    * should go through [[filterBlockedDomainsDf]].
    */
  def filterBlockedDomains(df: DataFrame, urlCol: String, blocked: Seq[String]): DataFrame = {
    val rd = registeredDomain(urlHost(col(urlCol)))
    df.filter(rd.isNull || !rd.isin(blocked: _*))
  }

  /** Blocklist-as-dataset form: broadcast LEFT ANTI join on the registrable
    * domain — the corpus never shuffles (a domain blocklist is millions of
    * rows at worst, far under broadcast threshold ceilings; if it ever
    * isn't, drop the hint and the anti join shuffles on the short domain
    * key, not the documents).
    */
  def filterBlockedDomainsDf(df: DataFrame, urlCol: String, blocked: DataFrame): DataFrame = {
    val withRd = df.withColumn("__rd", registeredDomain(urlHost(col(urlCol))))
    withRd.join(broadcast(blocked.select(col(blocked.columns.head).as("__blocked"))),
        withRd("__rd") === col("__blocked"), "left_anti")
      .drop("__rd")
  }

  /** URL-level dedup: keep the first row (by `orderCol`, which must be
    * unique — doc_id is) per normalized URL; rows with null normalized URL
    * (non-URLs) are all kept — dropping them is a *filter* decision, not a
    * dedup decision.
    *
    * Shape: `min(orderCol)` per URL then join back, NOT a window — a crawl
    * has hot URLs (one URL fetched millions of times), and a window piles
    * each key onto one task with no map-side combine, while the min-
    * aggregate partially aggregates hot keys in place and the join-back
    * inherits AQE skew handling. Null keys bypass both shuffles entirely.
    */
  def dedupByUrl(df: DataFrame, urlCol: String, orderCol: String): DataFrame = {
    val keyed = df.withColumn("__norm", normalizeUrl(col(urlCol)))
    val urls = keyed.filter(col("__norm").isNotNull)
    val firsts = urls.groupBy(col("__norm")).agg(min(col(orderCol)).as("__keep"))
    urls.join(firsts,
        urls("__norm") === firsts("__norm") && col(orderCol) === col("__keep"))
      .drop(firsts("__norm")).drop("__keep")
      .unionByName(keyed.filter(col("__norm").isNull))
      .drop("__norm")
  }

  /** Corpus-level per-domain document cap — the RefinedWeb/FineWeb
    * anti-domination stage: keep at most `maxPerDomain` documents per
    * registered domain, best-first by (`scoreCol` desc, `tieCol` asc), so
    * no single site dominates the training mixture however many pages it
    * contributed to the crawl.
    *
    * Shape: one rank window per domain, and the `row_number ≤ k` filter
    * sits DIRECTLY above the window so Spark's rank-limit pushdown plans
    * it as WindowGroupLimit with a Partial pass before the exchange —
    * each map task keeps a bounded top-k per group, so a mega-domain
    * costs O(cap) memory map-side (the unbounded-window hot-key hazard
    * [[dedupByUrl]] documents does not apply; certified by the
    * plan-shape spec). Null-domain rows (non-URLs) pass through with a
    * null rank rather than occupying cap slots.
    */
  def capPerDomain(df: DataFrame, hostCol: String, scoreCol: String,
      tieCol: String, maxPerDomain: Int): DataFrame = {
    require(maxPerDomain >= 1, s"maxPerDomain must be >= 1: $maxPerDomain")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("domain")).orderBy(col(scoreCol).desc, col(tieCol))
    val keyed = df.withColumn("domain", registeredDomain(lower(col(hostCol))))
    keyed.filter(col("domain").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerDomain)
      .withColumn("domain_rank", col("__rn").cast("long")).drop("__rn")
      .unionByName(keyed.filter(col("domain").isNull)
        .withColumn("domain_rank", lit(null).cast("long")))
  }

  /** Keep the NEWEST snapshot of each URL — the re-crawl dedup between
    * successive crawl dumps (the same page fetched in every dump must
    * enter the corpus once, as its latest version). Argmax by
    * (`tsCol`, remaining columns in frame order — the deterministic
    * tie-break for equal timestamps) via one `max(struct(…))` aggregation:
    * map-side partials collapse a hot URL before the exchange (the
    * [[dedupByUrl]] discipline — a window would pile every snapshot of a
    * hot URL onto one task). Null-URL rows pass through untouched.
    */
  def keepLatestSnapshot(df: DataFrame, urlCol: String, tsCol: String): DataFrame = {
    val rest = df.columns.filterNot(c => c == urlCol || c == tsCol).toSeq
    val packed = struct((tsCol +: rest).map(col): _*)
    val kept = df.filter(col(urlCol).isNotNull)
      .groupBy(col(urlCol))
      .agg(max(packed).as("__top"))
      .select(col(urlCol) +: (tsCol +: rest).map(c => col(s"__top.`$c`").as(c)): _*)
    kept.unionByName(df.filter(col(urlCol).isNull).select(kept.columns.map(col): _*))
  }

  /** URL template signature: the path with every run of ≥16 hex chars
    * collapsed to `{h}` (session ids, content hashes) and then every digit
    * run to `{n}` (ids, dates, page numbers) — hex first, because hex runs
    * contain digits. Two URLs share a template iff they differ only in
    * such variable segments, which is how crawler-trap mitigation groups
    * calendar pages, faceted-search permutations and session-id spaces
    * that are distinct as URLs but one page shape in reality. Pure
    * codegen'd `regexp_replace` — no UDF, no shuffle.
    */
  def urlTemplate(u: Column): Column =
    regexp_replace(
      regexp_replace(urlPath(u), "[0-9a-f]{16,}", "{h}"),
      "[0-9]+", "{n}")

  /** Per-(host, template) URL counts with a trap flag: a template holding
    * more than `trapFracMicro` millionths of the corpus is a trap
    * candidate (calendar/session/facet spaces explode combinatorially;
    * organic site sections don't). The fraction form — not an absolute
    * count — keeps the flag scale-invariant: the same fixture flags the
    * same templates at every sf.
    *
    * Shape: one slim `(host, template)` count shuffle (map-side partial —
    * a mega-trap collapses per task before the exchange), then a
    * broadcast of the one-row corpus total. Integer cross-multiply, no
    * division. Null-host rows (non-URLs) are excluded — they have no
    * fetch shape to trap.
    */
  def templateReport(df: DataFrame, urlCol: String,
      trapFracMicro: Long = 50000L): DataFrame = {
    val keyed = df
      .withColumn("host", urlHost(col(urlCol)))
      .withColumn("template", urlTemplate(col(urlCol)))
      .filter(col("host").isNotNull)
    val counts = keyed.groupBy("host", "template")
      .agg(count(lit(1)).as("n_urls"))
    val total = keyed.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("is_trap",
        col("n_urls") * lit(1000000L) > col("__total") * lit(trapFracMicro))
      .drop("__total")
  }

  /** Trap-mitigation gate: URLs of flagged templates survive only up to
    * `cap` per (host, template) — ordered by `orderCol`, the deterministic
    * "first seen wins" — while URLs of organic templates pass untouched.
    * Null-host rows pass through (not this gate's concern).
    *
    * Scale: the report side is aggregate-sized; the trap-row subset is
    * bounded by the flagged templates' volume, and the `row_number ≤ cap`
    * filter sits DIRECTLY above its window so Spark plans the rank-limit
    * as WindowGroupLimit — each map task keeps a bounded top-cap per
    * group before the exchange, the [[capPerDomain]] discipline (a
    * mega-trap costs O(cap) memory map-side, not O(|trap|)).
    */
  def trapGate(df: DataFrame, urlCol: String, orderCol: String,
      trapFracMicro: Long = 50000L, cap: Int = 5): DataFrame = {
    require(cap >= 1, s"cap must be >= 1: $cap")
    val report = templateReport(df, urlCol, trapFracMicro)
    val traps = report.filter(col("is_trap")).select("host", "template")
    val keyed = df
      .withColumn("host", urlHost(col(urlCol)))
      .withColumn("template", urlTemplate(col(urlCol)))
    val urls = keyed.filter(col("host").isNotNull)
    val trapRows = urls.join(traps, Seq("host", "template"), "left_semi")
    val organic = urls.join(traps, Seq("host", "template"), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"), col("template")).orderBy(col(orderCol))
    val capped = trapRows.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
    organic.unionByName(capped)
      .unionByName(keyed.filter(col("host").isNull))
      .drop("host", "template")
  }

  /** Re-fetch scheduling from snapshot history (the Cho & Garcia-Molina
    * freshness idea reduced to its deterministic core): per URL, count
    * observed CHANGES (consecutive snapshots whose content hash differs)
    * and the UNCHANGED TAIL (snapshots since the last change), and back
    * off exponentially on stability:
    *
    *   next_interval_s = baseIntervalS · 2^min(unchanged_tail, maxDoublings)
    *
    * — frequently-changing pages re-fetch at the base rate, dead pages
    * decay toward the cap, and every quantity is an exact integer. One
    * per-URL window over the (slim) snapshot-hash history — content
    * never shuffles, its sha2 does.
    *
    * Output per URL: `(url, n_snapshots, n_changes, unchanged_tail,
    * next_interval_s)`.
    */
  def refetchSchedule(df: DataFrame, urlCol: String, tsCol: String,
      contentCol: String, baseIntervalS: Long = 60L,
      maxDoublings: Int = 6): DataFrame = {
    require(baseIntervalS > 0, s"baseIntervalS must be positive: $baseIntervalS")
    require(maxDoublings >= 0 && maxDoublings <= 40,
      s"maxDoublings must be in [0, 40]: $maxDoublings")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(urlCol)).orderBy(col(tsCol))
    val hashed = df.select(col(urlCol), col(tsCol),
      sha2(col(contentCol), 256).as("__h"))
    val flagged = hashed
      .withColumn("__prev", lag(col("__h"), 1).over(w))
      .withColumn("__changed",
        when(col("__prev").isNotNull && col("__prev") =!= col("__h"), 1L)
          .otherwise(0L))
      // snapshots AFTER the last change = trailing run of zeros: count
      // rows whose cumulative-change count equals the total change count
      // and are not the first snapshot... simplest exact form: reverse
      // cumulative sum of __changed is 0 on the trailing stable run.
      .withColumn("__chAfter",
        sum(col("__changed")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col(urlCol)).orderBy(col(tsCol))
            .rowsBetween(1, org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    flagged.groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("n_snapshots"),
        sum(col("__changed")).as("n_changes"),
        sum(when(coalesce(col("__chAfter"), lit(0L)) === 0L &&
          col("__prev").isNotNull && col("__changed") === 0L, 1L)
          .otherwise(0L)).as("unchanged_tail"))
      .withColumn("next_interval_s", expr(
        s"${baseIntervalS}L * shiftleft(1L, cast(least(unchanged_tail, $maxDoublings) as int))"))
  }

  /** Sitemap XML parsing — the fetch step after robots.txt surfaces the
    * sitemap URLs (`q_url_sitemaps`): extract `<loc>`/`<lastmod>`/
    * `<priority>` per entry from `<urlset>` pages and child sitemaps from
    * `<sitemapindex>` files. Sitemaps are machine-generated XML, so the
    * regex block-scan is the standard crawler treatment (no XML library,
    * no entity handling — a malformed file yields `kind = 'invalid'` with
    * one null-entry row, never a task failure). One pure-map explode:
    * 1 → N rows per file, linear in the XML size.
    */
  def parseSitemap(df: DataFrame, xmlCol: String): DataFrame = {
    val kind = when(col(xmlCol).isNull, lit("invalid"))
      .when(col(xmlCol).contains("<sitemapindex"), lit("sitemapindex"))
      .when(col(xmlCol).contains("<urlset"), lit("urlset"))
      .otherwise(lit("invalid"))
    val blocks = regexp_extract_all(col(xmlCol),
      lit("(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"), lit(1))
    df.withColumn("kind", kind)
      .withColumn("__bs", when(col("kind") =!= "invalid", blocks))
      .select(df.columns.map(col) :+ col("kind") :+
        posexplode_outer(col("__bs")).as(Seq("entry_idx", "__b")): _*)
      .withColumn("url",
        nullif(trim(regexp_extract(col("__b"), "(?s)<loc>\\s*(.*?)\\s*</loc>", 1)), lit("")))
      .withColumn("lastmod",
        nullif(regexp_extract(col("__b"), "<lastmod>([^<]*)</lastmod>", 1), lit("")))
      .withColumn("priority",
        nullif(regexp_extract(col("__b"), "<priority>([^<]*)</priority>", 1), lit(""))
          .cast("double"))
      .drop("__b", "__bs")
  }

  /** Tracking-parameter keys a crawl canonicalizer strips: the `utm_*`
    * campaign family by prefix plus the common click-identifier keys.
    * Dropping them merges the millions of per-campaign/per-click aliases
    * of one page into one canonical URL before URL-level dedup.
    */
  val trackingParamKeys: Seq[String] = Seq("gclid", "fbclid", "msclkid", "mc_eid", "igshid")

  /** Per-host politeness schedule — the fetch-plan step after frontier
    * construction: every URL gets a `slot` (fetch round) such that at most
    * `perSlot` URLs of one host land in the same round. A fetcher fleet
    * that processes slots in order respects per-host rate limits GLOBALLY
    * — across all executors — without runtime coordination, because the
    * coordination is precomputed into the data:
    * `slot = (rank − 1) div perSlot` where rank is the URL's position
    * within its host ordered by (`orderCol`, url) — priority first,
    * deterministic URL tie-break.
    *
    * Scale shape: one window partitioned by host. Sequencing a host's URLs
    * is inherently per-host-serial (that is the semantics of politeness),
    * so the partition-by-host sort is the minimal possible shuffle, and
    * Spark's window sort is spill-backed — a mega-host costs disk, not
    * memory. Rows whose host is null (non-URLs) are not fetchable: they
    * pass through with a null slot rather than occupying fetch rounds.
    */
  def politenessSlots(df: DataFrame, urlCol: String, orderCol: String,
      perSlot: Int = 1): DataFrame = {
    require(perSlot >= 1, s"perSlot must be >= 1: $perSlot")
    politenessSlotsBy(df, urlCol, orderCol, lit(perSlot))
  }

  /** [[politenessSlots]] with a PER-ROW rate column — the robots-aware
    * form: `perSlot` typically derives from the host's `Crawl-delay`
    * ([[graft.functions.RobotsKernels.crawlDelay]]), e.g.
    * `greatest(lit(1), floor(roundSeconds / delay))`, so a host asking
    * for a 10-second delay gets fewer fetches per round than one with no
    * constraint. The rate must be host-constant (it parameterizes the
    * host's schedule); same single-window shape as the fixed-rate form.
    */
  def politenessSlotsBy(df: DataFrame, urlCol: String, orderCol: String,
      perSlot: org.apache.spark.sql.Column): DataFrame = {
    // Null-host (non-URL) rows bypass the window entirely: they all hash
    // to ONE window partition, so sorting them to assign a slot that the
    // null branch then discards would build a straggler task out of the
    // discard pile. Output columns `host`/`slot` replace same-named
    // caller columns.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col(orderCol), col(urlCol))
    val keyed = df.withColumn("host", urlHost(col(urlCol)))
    keyed.filter(col("host").isNotNull)
      .withColumn("slot", floor((row_number().over(w) - 1) / perSlot))
      .unionByName(keyed.filter(col("host").isNull)
        .withColumn("slot", lit(null).cast("long")))
  }

  /** Remove tracking parameters from a raw query STRING (`a=1&utm_x=2` →
    * `a=1`); null when nothing survives (the caller then omits the `?`).
    * A parameter is dropped when its key (before the first `=`) is
    * `utm_`-prefixed or in [[trackingParamKeys]]. Codegen'd HOF filter —
    * no UDF, no regex backtracking.
    */
  def stripTrackingParams(q: Column): Column = {
    val kept = filter(split(q, "&"), p => {
      val k = substring_index(p, "=", 1)
      !(k.startsWith("utm_") || k.isin(trackingParamKeys: _*))
    })
    when(q.isNull || size(kept) === 0, lit(null)).otherwise(array_join(kept, "&"))
  }

  /** [[normalizeUrl]] + tracking-parameter removal: the canonical form for
    * URL-level dedup of crawl data, where one article arrives under
    * thousands of `utm_…`/`gclid` aliases. Same null contract as
    * [[normalizeUrl]].
    */
  def normalizeUrlStrict(u: Column): Column = {
    val scheme = urlScheme(u)
    val host = urlHost(u)
    val port = urlPort(u)
    val keepPort = port.isNotNull &&
      !((scheme === "http" && port === 80) || (scheme === "https" && port === 443))
    val q = stripTrackingParams(urlQuery(u))
    when(scheme.isNull || host.isNull, lit(null)).otherwise(
      concat(
        scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port.cast("string"))).otherwise(lit("")),
        urlPath(u),
        when(q.isNotNull, concat(lit("?"), q)).otherwise(lit(""))))
  }
}
