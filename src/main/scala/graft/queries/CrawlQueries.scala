package graft.queries

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.{Encoders}
import org.apache.spark.sql.functions._
import graft.functions.HtmlKernels
import graft.llm.{LineDedup, TextAnalysis, UrlOps}
import graft.sources.{TokenShards, Warc}
import QueryUtil._

/** Driver-contract queries for the web-crawl ingestion family: WARC
  * container parsing, HTML → text extraction, URL parse/normalize/
  * blocklist/dedup, and line-level boilerplate dedup — the stages a
  * pretraining pipeline runs BEFORE the text operators in
  * [[LlmQueries]].
  *
  * Fixture discipline: the corpus has no URL or markup columns, so pages,
  * URLs and WARC members are synthesized deterministically from
  * `documents` rows with closed-form string ops — every derivation is
  * mirrored in the DuckDB oracle, making the full parse → extract →
  * filter chain hash-checkable end to end.
  */
object CrawlQueries {

  private val warcDate = "2026-08-13T00:00:00Z"

  /** Deterministic per-doc page markup: title/h1 repeat the doc id, the
    * body carries the document text with a planted entity, and style/
    * comment/script hide text that extraction must DROP. Extracted form
    * (closed-form): `Doc N Doc N <text> & fin`.
    */
  private def pageHtml = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><style>p{color:red}</style></head><body><h1>Doc "),
    col("doc_id").cast("string"),
    lit("</h1><!-- hidden --><p>"), col("text"),
    lit(" &amp; fin</p><script>var x = 1;</script></body></html>"))

  private val pageTextSql =
    "'Doc ' || doc_id || ' Doc ' || doc_id || ' ' || text || ' & fin'"

  /** Group docs into WARC members (doc_id % 40 → ~125 records/member at
    * sf0.01), records ordered by doc_id, payload = `payload` evaluated
    * per doc (default: the raw text). The per-member buffer is the fixture
    * ENCODER (bounded, one member at a time); parsing back runs the real
    * streaming parser.
    */
  private def warcFiles(s: SparkSession, dir: String,
      payload: org.apache.spark.sql.Column = col("text"),
      compress: Boolean = false): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    docs(s, dir)
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        payload.cast("string"))
      .as(enc)
      .groupByKey(_._1 % 40)(Encoders.scalaLong)
      .mapGroups { (fid, it) =>
        val rows = it.toArray.sortBy(_._1)
        val recs = rows.map { case (id, src, text) =>
          (s"http://example.com/$src/$id", warcDate, text.getBytes(UTF_8))
        }
        val bytes = if (compress) Warc.encodeFileGz(recs.toIndexedSeq)
          else Warc.encodeFile(recs.toIndexedSeq)
        (fid, bytes)
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("file_id", "payload")
  }

  /** WET-shaped members (Common Crawl text-conversion layer): each file
    * leads with a `warcinfo` record, carries one `conversion` record per
    * doc, and every 7th doc also plants a `request` record the WET layer
    * must DROP. Same container grammar, parsed by the same streaming
    * kernel.
    */
  private def wetFiles(s: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
    docs(s, dir)
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        col("text").cast("string"))
      .as(enc)
      .groupByKey(_._1 % 40)(Encoders.scalaLong)
      .mapGroups { (fid, it) =>
        val rows = it.toArray.sortBy(_._1)
        val recs =
          Seq(("warcinfo", s"wet:$fid", warcDate,
            s"software: graft-wet $fid".getBytes(UTF_8))) ++
          rows.flatMap { case (id, src, text) =>
            val conv = ("conversion", s"http://example.com/$src/$id", warcDate,
              text.getBytes(UTF_8))
            if (id % 7 == 0)
              Seq(conv, ("request", s"http://example.com/$src/$id", warcDate,
                "GET / HTTP/1.1".getBytes(UTF_8)))
            else Seq(conv)
          }
        (fid, Warc.encodeFileOfTypes(recs.toIndexedSeq))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("file_id", "payload")
  }

  /** WAT-shaped members (Common Crawl metadata layer): `metadata` records
    * carrying per-doc JSON; every 11th doc plants a CORRUPT payload the
    * JSON layer must surface as a null struct, not a task failure.
    */
  private def watFiles(s: SparkSession, dir: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING, Encoders.STRING)
    docs(s, dir)
      .select(col("doc_id").cast("long"), col("source").cast("string"),
        col("text").cast("string"), col("lang").cast("string"))
      .as(enc)
      .groupByKey(_._1 % 40)(Encoders.scalaLong)
      .mapGroups { (fid, it) =>
        val rows = it.toArray.sortBy(_._1)
        val recs =
          Seq(("warcinfo", s"wat:$fid", warcDate,
            s"software: graft-wat $fid".getBytes(UTF_8))) ++
          rows.map { case (id, src, text, lang) =>
            val uri = s"http://example.com/$src/$id"
            val json =
              if (id % 11 == 0) "{not json"
              else {
                val nWords = text.trim.split("\\s+").length
                s"""{"uri":"$uri","n_words":$nWords,"lang":"$lang"}"""
              }
            ("metadata", uri, warcDate, json.getBytes(UTF_8))
          }
        (fid, Warc.encodeFileOfTypes(recs.toIndexedSeq))
      }(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
      .toDF("file_id", "payload")
  }

  /** Synthesized per-doc URL covering the parse/normalize/blocklist/dedup
    * cases: mixed-case scheme+host with default port (m=0), multi-label
    * public suffix with default https port (m=1), blocklisted domain
    * (m=2), non-default port + PLANTED DUPLICATES via `doc_id % 50`
    * (m=3), and a non-URL (m=4).
    */
  private def urlCol = {
    val m = col("doc_id") % 5
    val ids = col("doc_id").cast("string")
    when(m === 0, concat(lit("HTTP://WWW.Example.COM:80/a/"), ids, lit("/index.html?x=1#frag")))
      .when(m === 1, concat(lit("https://News.Site.co.uk:443/story/"), ids, lit("#top")))
      .when(m === 2, concat(lit("http://ads.blocked.net/page?id="), ids))
      .when(m === 3, concat(lit("https://cdn.example.com:8080/asset/"),
        (col("doc_id") % 50).cast("string")))
      .otherwise(concat(lit("not a url "), ids))
  }

  private val urlSql =
    """CASE doc_id % 5
      | WHEN 0 THEN 'HTTP://WWW.Example.COM:80/a/' || doc_id || '/index.html?x=1#frag'
      | WHEN 1 THEN 'https://News.Site.co.uk:443/story/' || doc_id || '#top'
      | WHEN 2 THEN 'http://ads.blocked.net/page?id=' || doc_id
      | WHEN 3 THEN 'https://cdn.example.com:8080/asset/' || (doc_id % 50)
      | ELSE 'not a url ' || doc_id END""".stripMargin

  /** Crawler-trap fixture: 10% of the corpus is a calendar trap (one host,
    * every (month, day) pair a distinct URL), 10% a session-id trap (16-hex
    * token in the path), and the rest organic pages spread over the
    * 23-host pool × 3 site sections — each organic (host, template) group
    * holds ~1.2% of the corpus, safely under the 5% trap threshold at
    * every sf.
    */
  private def trapUrls(s: SparkSession, dir: String): DataFrame = {
    val ids = col("doc_id").cast("string")
    val m10 = col("doc_id") % 10
    val hexs = lpad(lower(hex(col("doc_id"))), 16, "0")
    val q31 = ((col("doc_id") - pmod(col("doc_id"), lit(31))) / 31).cast("long")
    val url = when(m10 === 0,
        concat(lit("https://big.example.com/cal/"), q31.cast("string"),
          lit("/day/"), (col("doc_id") % 31).cast("string")))
      .when(m10 === 1,
        concat(lit("https://shop.example.com/item/"),
          (col("doc_id") % 37).cast("string"), lit("/s/"), hexs))
      .otherwise(concat(lit("https://"), lgHostForm(col("doc_id") % 23),
        when(col("doc_id") % 3 === 0, lit("/about-a/p"))
          .when(col("doc_id") % 3 === 1, lit("/blog-b/p"))
          .otherwise(lit("/docs-c/p")), ids))
    docs(s, dir).select(col("doc_id"), url.as("url"))
  }

  /** Oracle mirror of [[trapUrls]] + the kernel's host/path extraction and
    * the template collapse (hex runs first, then digit runs — `'g'` for
    * the all-occurrences semantics Spark's `regexp_replace` has natively).
    */
  private val trapKeyedSql =
    s"""trap_u AS (SELECT doc_id, CASE doc_id % 10
       |    WHEN 0 THEN 'https://big.example.com/cal/' || (doc_id // 31) || '/day/' || (doc_id % 31)
       |    WHEN 1 THEN 'https://shop.example.com/item/' || (doc_id % 37) || '/s/' || lpad(lower(to_hex(doc_id)), 16, '0')
       |    ELSE 'https://' || ${lgHostSql("doc_id % 23")} ||
       |      (CASE doc_id % 3 WHEN 0 THEN '/about-a/p' WHEN 1 THEN '/blog-b/p' ELSE '/docs-c/p' END) || doc_id
       |    END AS url
       |  FROM documents),
       |trap_k AS (SELECT doc_id, url,
       |    lower(nullif(regexp_replace(
       |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
       |      ':[0-9]*$$', ''), '')) AS host,
       |    regexp_replace(regexp_replace(
       |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
       |      '[0-9a-f]{16,}', '{h}', 'g'), '[0-9]+', '{n}', 'g') AS template
       |  FROM trap_u),
       |trap_rep AS (SELECT host, template, CAST(count(*) AS BIGINT) AS n_urls,
       |    count(*) * 1000000 > (SELECT count(*) FROM trap_k) * 50000 AS is_trap
       |  FROM trap_k GROUP BY host, template)""".stripMargin

  /** Oracle-side registrable domain over `h` (a host expression):
    * last-two labels, last-three when the last two are a multi-label
    * public suffix — the [[UrlOps.registeredDomain]] contract in SQL.
    */
  private def rdSql(h: String): String =
    s"""CASE
       | WHEN regexp_matches($h, '^[0-9.]+$$') THEN $h
       | WHEN len(string_split($h, '.')) <= 2 THEN $h
       | WHEN regexp_extract($h, '([^.]+[.][^.]+)$$', 1)
       |      IN ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
       |          'co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in','co.kr','co.za')
       |   THEN regexp_extract($h, '([^.]+[.][^.]+[.][^.]+)$$', 1)
       | ELSE regexp_extract($h, '([^.]+[.][^.]+)$$', 1) END""".stripMargin

  // ----------------------------------------------------- link-graph fixture

  /** Link-graph host pool: 23 registrable domains `h0 … h22`, every
    * `k % 4 == 3` one under the multi-label suffix `co.uk` (exercising the
    * registered-domain contract), served from a `www.` / `news.` subdomain
    * so host ≠ domain everywhere.
    */
  private def lgHostForm(k: Column): Column =
    when(k % 4 === 3, concat(lit("news.h"), k.cast("string"), lit(".co.uk")))
      .otherwise(concat(lit("www.h"), k.cast("string"), lit(".com")))

  private def lgDomForm(k: Column): Column =
    when(k % 4 === 3, concat(lit("h"), k.cast("string"), lit(".co.uk")))
      .otherwise(concat(lit("h"), k.cast("string"), lit(".com")))

  /** Per-domain robots.txt pool: k%3==0 a full policy (a googlebot-only
    * block record the wildcard parser must IGNORE, then a wildcard record
    * with Disallow/Allow/Disallow — longest-prefix + allow-wins both
    * exercised), k%3==1 the classic "Disallow:" empty allow-all idiom,
    * k%3==2 no wildcard record at all (only googlebot) → everything
    * allowed. Comments and unknown directives planted throughout.
    */
  private def lgRobotsTxt(k: Column): Column =
    when(k % 3 === 0, concat(lit("# corpus policy\nUser-agent: googlebot\nDisallow: /\n\n" +
      "User-agent: *\nDisallow: /private\nAllow: /private/pub\nDisallow: /tmp\n" +
      "Crawl-delay: 4\n" +
      "Sitemap: https://"), lgHostForm(k), lit("/sitemap.xml\n")))
      .when(k % 3 === 1, lit("User-agent: *\nDisallow:\n"))
      .otherwise(lit("User-agent: googlebot\nCrawl-delay: 5\nDisallow: /\n"))

  /** One robots.txt row per fixture domain ([[lgRobotsTxt]] policies). */
  private def lgRobotsFrame(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select((col("doc_id") % 23).as("__k")).distinct()
      .select(lgDomForm(col("__k")).as("domain"),
        lgRobotsTxt(col("__k")).as("robots_txt"))

  private def lgHostSql(k: String): String =
    s"CASE WHEN ($k) % 4 = 3 THEN 'news.h' || ($k) || '.co.uk' ELSE 'www.h' || ($k) || '.com' END"

  /** Oracle-side registrable domain of the fixture hosts (closed form:
    * the pool only ever prefixes `www.` / `news.`).
    */
  private val lgDstSql =
    """regexp_replace(lower(regexp_extract(href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), '^(www|news)\.', '')"""

  private def lgDomSql(k: String): String =
    s"CASE WHEN ($k) % 4 = 3 THEN 'h' || ($k) || '.co.uk' ELSE 'h' || ($k) || '.com' END"

  /** Per-doc crawl page with planted anchors: two in-pool http(s) links
    * (one host-varying per doc), a MIXED-CASE absolute link on doc_id % 7
    * (normalization must fold it into h5.com), a SELF link on doc_id % 13
    * (the edge builder must drop it), and mailto/relative targets (the
    * scheme gate must drop them). Script content stays anchor-free here —
    * suppression inside script/comments is the kernel spec's job, while
    * this fixture keeps every planted anchor oracle-extractable.
    */
  private def linkedPages(s: SparkSession, dir: String): DataFrame = {
    val ids = col("doc_id").cast("string")
    val k = col("doc_id") % 23
    val anchors = concat(
      lit("<a href=\"https://"), lgHostForm((k + 7) % 23), lit("/a/"), ids, lit("\">one</a>"),
      lit("<a href=\"https://"), lgHostForm(col("doc_id") % 11 + 12), lit("/b/"), ids, lit("\">two</a>"),
      when(col("doc_id") % 7 === 0,
        concat(lit("<a href=\"HTTPS://WWW.H5.COM/mix/"), ids, lit("\">mix</a>"))).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        concat(lit("<a href=\"https://"), lgHostForm(k), lit("/self\">me</a>"))).otherwise(lit("")),
      lit("<a href=\"mailto:ed@h1.com\">mail</a><a href=\"/rel/p\">rel</a>"))
    docs(s, dir).select(col("doc_id"), lgHostForm(k).as("host"),
      concat(lit("<html><body><h1>Doc "), ids, lit("</h1><p>"), col("text"),
        lit("</p>"), anchors, lit("<script>var x = 1;</script></body></html>")).as("html"))
  }

  /** Oracle mirror of [[linkedPages]]'s planted hrefs (closed form, one row
    * per anchor; the CASE branches yield NULL rows the scheme gate drops).
    */
  private val lgLinksSql =
    s"""links AS (SELECT doc_id, unnest(list_value(
       |    'https://' || ${lgHostSql("(doc_id % 23 + 7) % 23")} || '/a/' || doc_id,
       |    'https://' || ${lgHostSql("doc_id % 11 + 12")} || '/b/' || doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://WWW.H5.COM/mix/' || doc_id END,
       |    CASE WHEN doc_id % 13 = 0 THEN 'https://' || ${lgHostSql("doc_id % 23")} || '/self' END,
       |    'mailto:ed@h1.com', '/rel/p')) AS href
       |  FROM documents),
       |lg_edges_w AS (SELECT ${lgDomSql("doc_id % 23")} AS src_domain, $lgDstSql AS dst_domain
       |  FROM links WHERE regexp_matches(lower(href), '^https?://'))""".stripMargin

  /** One damped integer micro-rank power-iteration round as a CTE pair —
    * the sequential mirror of [[graft.llm.LinkGraph.pageRank]]'s update
    * (`//` is DuckDB floor division ≡ Spark `div` on the nonnegative
    * quantities here).
    */
  private def lgRankStepSql(i: Int): String =
    s"""c$i AS (SELECT e.dst, sum((r.rank_micro // o.deg) * 850000 // 1000000) AS s
       |  FROM lg_edges e JOIN lg_outdeg o ON e.src = o.src JOIN r${i - 1} r ON r.domain = e.src
       |  GROUP BY e.dst),
       |r$i AS (SELECT n.domain, CAST(150000 + coalesce(c.s, 0) AS BIGINT) AS rank_micro
       |  FROM lg_nodes n LEFT JOIN c$i c ON c.dst = n.domain)""".stripMargin

  /** One synchronous HITS round as CTE steps — the sequential mirror of
    * [[graft.llm.LinkGraph.hits]] (hub sums read the RAW authorities of
    * the same round, normalization is the HUGEINT sum-norm cross-multiply).
    */
  private def lgHitsStepSql(i: Int): String =
    s"""ha$i AS (SELECT e.dst, sum(h.hub) AS s
       |  FROM lg_edges e JOIN h${i - 1} h ON h.domain = e.src GROUP BY e.dst),
       |ar$i AS (SELECT n.domain, coalesce(ha$i.s, 0) AS a
       |  FROM lg_nodes n LEFT JOIN ha$i ON ha$i.dst = n.domain),
       |at$i AS (SELECT sum(a) AS tot, count(*) AS n FROM ar$i),
       |a$i AS (SELECT domain, CAST((CAST(a AS HUGEINT) * (SELECT n FROM at$i) * 1000000)
       |    // (SELECT tot FROM at$i) AS BIGINT) AS a FROM ar$i),
       |hs$i AS (SELECT e.src, sum(ar.a) AS s
       |  FROM lg_edges e JOIN ar$i ar ON ar.domain = e.dst GROUP BY e.src),
       |hr$i AS (SELECT n.domain, coalesce(hs$i.s, 0) AS hub
       |  FROM lg_nodes n LEFT JOIN hs$i ON hs$i.src = n.domain),
       |ht$i AS (SELECT sum(hub) AS tot, count(*) AS n FROM hr$i),
       |h$i AS (SELECT domain, CAST((CAST(hub AS HUGEINT) * (SELECT n FROM ht$i) * 1000000)
       |    // (SELECT tot FROM ht$i) AS BIGINT) AS hub FROM hr$i)""".stripMargin

  /** The TrustRank fixture's seed whitelist (one `.com`, one multi-label
    * `.co.uk` — both resolvable registered domains in the host pool).
    */
  private val lgTrustSeeds = Seq("h1.com", "h3.co.uk")

  private val lgTrustSeedsSql = lgTrustSeeds.map(d => s"'$d'").mkString(", ")

  /** One biased (seed-teleport) power-iteration round — the sequential
    * mirror of [[graft.llm.LinkGraph.trustRank]]'s update.
    */
  private def lgTrustStepSql(i: Int): String =
    s"""tc$i AS (SELECT e.dst, sum((t.trust_micro // o.deg) * 850000 // 1000000) AS s
       |  FROM lg_edges e JOIN lg_outdeg o ON e.src = o.src JOIN t${i - 1} t ON t.domain = e.src
       |  GROUP BY e.dst),
       |t$i AS (SELECT n.domain, CAST(
       |    (CASE WHEN n.domain IN ($lgTrustSeedsSql) THEN 150000 ELSE 0 END)
       |    + coalesce(c.s, 0) AS BIGINT) AS trust_micro
       |  FROM lg_nodes n LEFT JOIN tc$i c ON c.dst = n.domain)""".stripMargin

  private val boilerLine1 = "home products pricing support about contact sign in"
  private val boilerLine2 = "copyright twenty twenty six example industries all rights reserved"

  /** documents with planted boilerplate LINES: a shared nav line prepended
    * on doc_id % 3 == 0 and a shared footer line appended on doc_id % 5 ==
    * 0 (concat_ws skips null branches), body = the original text as its
    * own line. Line-dedup at minDocs=50 must remove exactly the planted
    * lines (each recurs across ≥1/5 of the corpus) and keep every body.
    */
  private def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      concat_ws("\n",
        when(col("doc_id") % 3 === 0, lit(boilerLine1)),
        col("text"),
        when(col("doc_id") % 5 === 0, lit(boilerLine2))).as("text"))

  /** Write a real on-disk WARC directory (8 files, alternating plain /
    * concatenated-gzip) from every 5th document, a [[stagedInput]] per
    * (sf dir, source fingerprint). The DSv2
    * connector query reads THESE bytes — the full listing → sniff →
    * chain-decode → scan path, not an in-memory model of it.
    */
  private def ensureWarcDir(s: SparkSession, dir: String): String = {
    val tag = dir.replaceAll("[^A-Za-z0-9]+", "_")
    stagedInput(s"warc/dir_$tag", sourceSignature(dir, "documents")) { root =>
      root.mkdirs()
      val enc3 = Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.STRING)
      val rows = docs(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id").cast("long"), col("source").cast("string"),
          col("text").cast("string"))
        .as(enc3).collect().sortBy(_._1)
      rows.groupBy(_._1 % 8).foreach { case (k, rs) =>
        val recs = rs.sortBy(_._1).toIndexedSeq.map { case (id, src, text) =>
          (s"http://example.com/$src/$id", warcDate, text.getBytes(UTF_8))
        }
        val gz = k % 2 == 1
        val bytes = if (gz) Warc.encodeFileGz(recs) else Warc.encodeFile(recs)
        java.nio.file.Files.write(
          new java.io.File(root, s"w$k.warc" + (if (gz) ".gz" else "")).toPath, bytes)
      }
    }.getAbsolutePath
  }

  // ------------------------------------------------------------- queries

  val queries: Map[String, Q] = Map(

    "q_warc_dsv2" -> ((s, dir) => {
      // The SQL surface end to end: a real on-disk directory of plain AND
      // per-record-gzipped WARC files read back through
      // `spark.read.format("warc")` — listing, suffix dispatch, gzip chain
      // decode, streaming parse and the fixed record schema all inside the
      // hash check. doc identity recovered from the target URI; the gz
      // flag proves each file took the intended codec path.
      val path = ensureWarcDir(s, dir)
      s.read.format("warc").load(path)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("file").endsWith(".gz").as("gz"),
          col("record_idx").cast("long").as("record_idx"),
          col("content_length"),
          col("payload").cast("string").as("text"))
        .orderBy(col("doc_id"))
    }),

    "q_warc_roundtrip" -> ((s, dir) => {
      // WARC certificate: encode the corpus into multi-record members with
      // the public record grammar, stream-parse them back, and emit every
      // header field + the decoded payload — byte-exact against the
      // closed-form oracle, proving the container round-trips losslessly.
      val (recs, _) = Warc.parseBytesKernel(warcFiles(s, dir))
      recs.toDF()
        .select(col("file_id"), col("record_idx"), col("target_uri"),
          col("content_length"), col("payload").cast("string").as("text"))
        .orderBy(col("file_id"), col("record_idx"))
    }),

    "q_warc_wet" -> ((s, dir) => {
      // WET (Common Crawl text-conversion) layer: mixed-type members —
      // warcinfo header, conversion text records, planted request noise
      // on every 7th doc — parse through the same streaming kernel; the
      // WET projection must keep exactly the conversion records and
      // decode their payload as the original document text.
      val (recs, _) = Warc.parseBytesKernel(wetFiles(s, dir))
      Warc.wetText(recs.toDF())
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("text"), length(col("text")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    "q_warc_wat" -> ((s, dir) => {
      // WAT (Common Crawl metadata) layer: metadata records parse as JSON
      // under a caller schema; the planted corrupt payload (every 11th
      // doc) must surface as a parse-failed row (all-null fields), never a
      // task failure.
      import org.apache.spark.sql.types._
      val (recs, _) = Warc.parseBytesKernel(watFiles(s, dir))
      val schema = StructType(Seq(
        StructField("uri", StringType), StructField("n_words", LongType),
        StructField("lang", StringType)))
      Warc.watMetadata(recs.toDF(), schema)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          // from_json yields an all-NULL-fields struct for a corrupt
          // payload (PERMISSIVE), not a null struct — probe a field that
          // every valid record carries.
          col("meta.uri").isNotNull.as("json_ok"),
          col("meta.n_words").as("n_words"), col("meta.lang").as("lang"))
        .orderBy(col("doc_id"))
    }),

    "q_warc_cdx" -> ((s, dir) => {
      // CDX-J index parsing — the Common Crawl LOOKUP layer consulted
      // before fetching any WARC byte: "urlkey timestamp {json}" lines
      // parse under a caller schema; the kept flag is the standard
      // pre-fetch gate (parse ok + HTTP 200 + text/html). Planted
      // hazards: truncated JSON on doc_id % 37 (must surface as a
      // parse-failed row) and 404s on % 29 (must be gated, not dropped).
      import org.apache.spark.sql.types._
      val k = col("doc_id") % 23
      val jsonFull = concat(lit("{\"url\":\"https://h"), k.cast("string"),
        lit(".com/p/"), col("doc_id").cast("string"),
        lit("\",\"status\":\""),
        when(col("doc_id") % 29 === 0, lit("404")).otherwise(lit("200")),
        lit("\",\"mime\":\"text/html\",\"length\":\""),
        ((col("doc_id") * 7) % 9973).cast("string"), lit("\"}"))
      val lines = docs(s, dir).select(col("doc_id"), concat(
        lit("com,h"), k.cast("string"), lit(")/p/"), col("doc_id").cast("string"),
        lit(" "), (lit(20240101000000L) + col("doc_id")).cast("string"),
        lit(" "),
        when(col("doc_id") % 37 === 0, substring(jsonFull, 1, 10))
          .otherwise(jsonFull)).as("line"))
      val schema = StructType(Seq(
        StructField("url", StringType), StructField("status", StringType),
        StructField("mime", StringType), StructField("length", StringType)))
      Warc.parseCdxj(lines, "line", schema)
        .select(col("doc_id"), col("urlkey"), col("cdx_ts"),
          col("fields.url").isNotNull.as("parse_ok"),
          col("fields.url").as("url"), col("fields.status").as("status"),
          col("fields.length").cast("long").as("length_bytes"),
          (col("fields.url").isNotNull && col("fields.status") === "200" &&
            col("fields.mime") === "text/html").as("kept"))
        .orderBy(col("doc_id"))
    }),

    "q_warc_sink" -> ((s, dir) => {
      // Distributed WARC sink certificate: every 5th doc re-sharded to
      // one .warc.gz per doc_id % 4 (parallel tasks, member-per-record
      // gzip, temp + rename commit), then read back through the DSv2
      // connector — encode → commit → list → chain-decode → parse all
      // inside the hash check. The shard recovered from the FILE NAME and
      // the record_idx from the in-shard sort prove placement and order,
      // not just content.
      val out = stagingDir() + "/warc_sink/" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      val src = docs(s, dir).filter(col("doc_id") % 5 === 1)
        .select((col("doc_id") % 4).cast("long").as("shard"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          lit(warcDate).as("warc_date"), col("text").cast("binary").as("payload"),
          col("doc_id"))
      Warc.writeShards(src, "shard", Seq("doc_id"), out)
      s.read.format("warc").load(out)
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          regexp_extract(col("file"), "shard_([0-9]+)", 1).cast("long").as("shard"),
          col("record_idx").cast("long").as("record_idx"),
          col("payload").cast("string").as("text"))
        .orderBy(col("doc_id"))
    }),

    "q_token_shards" -> ((s, dir) => {
      // Trainer-sink certificate: every doc tokenized to hashed ids (a
      // deterministic stand-in for a vocab lookup), sharded doc_id % 4,
      // written as .gtok binary shards (temp + rename commit, in-file key,
      // trailer counts + CRC32), read back through binaryFile, and
      // compared row-for-row — placement (shard), in-file order (seq_idx
      // vs the in-shard doc_id rank) and every token value sit inside
      // roundtrip_ok; total_tokens cross-checks the MANIFEST's trailer
      // sums against the corpus's own token count, which the oracle states
      // independently. (The rank window partitions on 4 shard keys —
      // certificate-only; production consumers read the manifest.)
      val out = stagingDir() + "/gtok/" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      val src = docs(s, dir).select(
          (col("doc_id") % 4).cast("long").as("shard"),
          col("doc_id").as("chunk"),
          transform(split(trim(lower(col("text"))), "\\s+"),
            t => pmod(xxhash64(t), lit(65536)).cast("int")).as("tokens"))
        .localCheckpoint()
      val manifest = TokenShards.write(src, out).localCheckpoint()
      val expected = src.withColumn("seq_idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("chunk"))).cast("long") - 1L)
      val bad = TokenShards.read(s, out)
        .select(col("shard").cast("long").as("shard"), col("seq_idx"),
          col("tokens").as("__rt"))
        .join(expected.select(col("shard"), col("seq_idx"), col("tokens")),
          Seq("shard", "seq_idx"), "full")
        .filter(col("__rt").isNull || col("tokens").isNull ||
          !(col("__rt") === col("tokens")))
        .agg(count(lit(1)).as("__bad"))
      val totals = manifest.agg(sum(col("n_tokens")).as("__mtok"))
        .crossJoin(src.agg(sum(size(col("tokens"))).cast("long").as("total_tokens"),
          count(lit(1)).as("n_docs")))
      bad.crossJoin(totals).select(
        (col("__bad") === 0 && col("__mtok") === col("total_tokens")).as("roundtrip_ok"),
        col("n_docs"), col("total_tokens"))
    }),

    "q_shards_unigram" -> ((s, dir) => {
      // The trainer-sink path with a REAL tokenizer end to end: train a
      // unigram piece table on the corpus, encode every doc to dense
      // vocabulary ids (codegen'd Viterbi kernel; full single-char
      // coverage → no OOV, certified no id is -1), write .gtok shards,
      // read them back, DECODE ids → pieces through the id-ascending
      // vocabulary (literal array lookup) and compare against direct
      // Viterbi tokens — the full encode → store → decode loop a
      // pretraining pipeline runs, certified lossless.
      val pieces = graft.llm.UnigramLm.train(docs(s, dir), vocabSize = 200,
        maxPieceLen = 4, seedSize = 1024, emIters = 2)
      val vocabArr = array(graft.llm.UnigramLm.vocabulary(pieces)
        .map { case (_, p) => lit(p) }: _*)
      val out = stagingDir() + "/gtok_uni/" + dir.replaceAll("[^A-Za-z0-9]+", "_")
      val src = docs(s, dir).select(
          (col("doc_id") % 4).cast("long").as("shard"),
          col("doc_id").as("chunk"),
          graft.llm.UnigramLm.tokenIds(col("text"), pieces).as("tokens"),
          graft.llm.UnigramLm.tokens(col("text"), pieces).as("__direct"))
        .localCheckpoint()
      TokenShards.write(src, out).count() // manifest materializes the sink
      val expected = src.withColumn("seq_idx", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("chunk"))).cast("long") - 1L)
      val decoded = TokenShards.read(s, out)
        .select(col("shard").cast("long").as("shard"), col("seq_idx"),
          transform(col("tokens"), i => element_at(vocabArr, i + 1)).as("__dec"))
      val bad = decoded
        .join(expected.select(col("shard"), col("seq_idx"),
          col("__direct"), col("tokens")),
          Seq("shard", "seq_idx"), "full")
        .filter(col("__dec").isNull || col("__direct").isNull ||
          !(col("__dec") === col("__direct")) ||
          exists(col("tokens"), i => i < 0))
        .agg(count(lit(1)).as("__bad"))
      bad.crossJoin(src.agg(count(lit(1)).as("n_docs")))
        .select((col("__bad") === 0).as("roundtrip_ok"), col("n_docs"))
    }),

    "q_warc_gz_roundtrip" -> ((s, dir) => {
      // Compressed-container certificate: the same corpus encoded in the
      // Common Crawl convention (each record its own gzip member,
      // concatenated), magic-sniffed and chain-decoded back. The output
      // contract is identical to q_warc_roundtrip — compression must be
      // transparent to the parse — so it shares that oracle.
      val (recs, _) = Warc.parseBytesKernel(warcFiles(s, dir, compress = true))
      recs.toDF()
        .select(col("file_id"), col("record_idx"), col("target_uri"),
          col("content_length"), col("payload").cast("string").as("text"))
        .orderBy(col("file_id"), col("record_idx"))
    }),

    "q_warc_quarantine" -> ((s, dir) => {
      // Fault-accounting certificate: members corrupted per file_id % 4 —
      // 1 → last 7 bytes cut (final record's payload truncates), 2 → first
      // byte stomped (bad magic, zero records recovered), others intact.
      // Output = quarantine rows + one (-1, total_parsed, 'parsed')
      // summary, so the oracle proves every record is either parsed or
      // accounted for with a reason and a survivor count.
      val corrupt = udf((fid: Long, payload: Array[Byte]) => fid % 4 match {
        case 1 => java.util.Arrays.copyOf(payload, payload.length - 7)
        case 2 => payload(0) = 'J'.toByte; payload
        case _ => payload
      })
      val files = warcFiles(s, dir)
        .select(col("file_id"), corrupt(col("file_id"), col("payload")).as("payload"))
      val (recs, quar) = Warc.parseBytesKernel(files)
      quar.toDF().select(col("file_id"), col("records_ok").cast("long"), col("reason"))
        .unionByName(recs.toDF().agg(count(lit(1)).as("records_ok"))
          .select(lit(-1L).as("file_id"), col("records_ok"), lit("parsed").as("reason")))
        .orderBy(col("file_id"))
    }),

    "q_html_extract" -> ((s, dir) =>
      // HTML → text certificate: the kernel must keep title/h1/body text,
      // drop style/comment/script content, decode the planted entity and
      // collapse the tag breaks to single spaces — the closed-form
      // extracted string hash-checks per doc.
      docs(s, dir).select(col("doc_id"),
          HtmlKernels.htmlToText(pageHtml).as("text"))
        .orderBy(col("doc_id"))),

    "q_html_robots" -> ((s, dir) => {
      // Robots-directive gate certificate: pages planted with a noindex
      // directive (doc_id % 7 = 0), an index directive in mixed case +
      // single quotes (doc_id % 7 = 1), or none. Output = parsed directive
      // + the gate decision per doc — both re-derived closed-form by the
      // oracle. The gate is token-exact (`noindex` between delimiters),
      // and directive-less pages stay indexable.
      val metaTag = when(col("doc_id") % 7 === 0,
          lit("<meta name=\"robots\" content=\"noindex, nofollow\">"))
        .when(col("doc_id") % 7 === 1,
          lit("<meta NAME='ROBOTS' Content='INDEX, follow'>"))
        .otherwise(lit(""))
      val html = concat(lit("<html><head>"), metaTag,
        lit("<title>T</title></head><body><p>"), col("text"), lit("</p></body></html>"))
      docs(s, dir).select(col("doc_id"),
          HtmlKernels.metaRobots(html).as("robots"),
          HtmlKernels.robotsNoindex(html).as("noindex"))
        .orderBy(col("doc_id"))
    }),

    "q_pipeline_crawl" -> ((s, dir) => {
      // The crawl front-end composed end to end: corpus → HTML pages →
      // WARC members → streaming parse → HTML extraction → token count,
      // doc identity recovered from the WARC target URI. One plan, hash-
      // checked — the certificate that the three new stages compose.
      val (parsed, _) = Warc.parseBytesKernel(warcFiles(s, dir, payload = pageHtml))
      parsed.toDF()
        .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          HtmlKernels.htmlToText(col("payload").cast("string")).as("text"))
        .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        .orderBy(col("doc_id"))
    }),

    "q_pipeline_web" -> ((s, dir) => {
      // The full web-curation front end in ONE plan: WARC members whose
      // payloads are HTML pages (robots noindex planted on doc_id % 7 = 0)
      // → streaming parse → robots gate on the RAW markup → HTML → text →
      // URL assignment → registrable-domain blocklist (drops the
      // blocked.net fifth) → normalized-URL dedup (keep-first among
      // SURVIVORS — a planted duplicate whose first fetch was
      // robots-dropped promotes the next) → minimum-length quality gate.
      // Every stage's effect is closed-form, so the composed survivor set,
      // normalized URLs and token counts all hash-check.
      val htmlRobots = concat(
        lit("<html><head>"),
        when(col("doc_id") % 7 === 0,
          lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit("")),
        lit("<title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><h1>Doc "), col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"), lit(" &amp; fin</p></body></html>"))
      val (parsed, _) = Warc.parseBytesKernel(warcFiles(s, dir, payload = htmlRobots))
      val pages = parsed.toDF()
        .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("html"))
        .filter(!HtmlKernels.robotsNoindex(col("html")))
        .select(col("doc_id"), HtmlKernels.htmlToText(col("html")).as("text"))
        .withColumn("url", urlCol)
      val unblocked = UrlOps.filterBlockedDomains(pages, "url", Seq("blocked.net"))
      UrlOps.dedupByUrl(unblocked, "url", "doc_id")
        .select(col("doc_id"), UrlOps.normalizeUrl(col("url")).as("url_norm"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 8)
        .orderBy(col("doc_id"))
    }),

    "q_pipeline_web_main" -> ((s, dir) => {
      // The FineWeb-style extract path: WARC parse → block-level MAIN
      // CONTENT (nav + h1 + footer drop; only the article paragraph
      // survives — the upgrade over q_pipeline_web's whole-page
      // htmlToText) → robots-meta gate on raw markup → minimum-length
      // gate. Main text equals the corpus text wherever it clears the
      // block minimum, so the composed survivors hash-check closed-form.
      val page = concat(
        lit("<html><head>"),
        when(col("doc_id") % 7 === 0,
          lit("<meta name=\"robots\" content=\"noindex\">")).otherwise(lit("")),
        lit("</head><body><nav><a href=\"/\">home page</a> " +
          "<a href=\"/about\">about us team</a></nav><h1>Doc "),
        col("doc_id").cast("string"),
        lit("</h1><p>"), col("text"),
        lit("</p><footer>copyright 2026</footer></body></html>"))
      val (parsed, _) = Warc.parseBytesKernel(warcFiles(s, dir, payload = page))
      parsed.toDF()
        .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"),
          col("payload").cast("string").as("html"))
        .filter(!HtmlKernels.robotsNoindex(col("html")))
        .select(col("doc_id"),
          HtmlKernels.mainContent(col("html")).as("main_text"))
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("main_text")).cast("long"))
        .filter(col("n_tokens") >= 8)
        .orderBy(col("doc_id"))
    }),

    "q_url_parse" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), urlCol.as("url"))
        .select(col("doc_id"),
          UrlOps.urlScheme(col("url")).as("scheme"),
          UrlOps.urlHost(col("url")).as("host"),
          UrlOps.urlPort(col("url")).as("port"),
          UrlOps.urlPath(col("url")).as("path"),
          UrlOps.urlQuery(col("url")).as("query"),
          UrlOps.registeredDomain(UrlOps.urlHost(col("url"))).as("reg_domain"))
        .orderBy(col("doc_id"))),

    "q_url_canonical" -> ((s, dir) => {
      // Canonicalization certificate: per-doc URLs planted with utm_*
      // params around a real one (m=0), only a click id (m=1 — the whole
      // query must vanish, and the default port with it), no tracking
      // (m=2), or not a URL (m=3). The oracle states the expected
      // canonical form closed-form per residue class.
      val m = col("doc_id") % 4
      val ids = col("doc_id").cast("string")
      val u = when(m === 0, concat(lit("https://Ex.COM/p/"), ids,
          lit("?utm_source=news&x="), ids, lit("&utm_campaign=c#f")))
        .when(m === 1, concat(lit("http://site.com:80/q?gclid=abc"), ids))
        .when(m === 2, concat(lit("https://a.io/r/"), ids, lit("?x=1&y=2")))
        .otherwise(concat(lit("nope "), ids))
      docs(s, dir).select(col("doc_id"),
          UrlOps.normalizeUrlStrict(u).as("url_canon"))
        .orderBy(col("doc_id"))
    }),

    "q_url_normalize" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), UrlOps.normalizeUrl(urlCol).as("url_norm"))
        .orderBy(col("doc_id"))),

    "q_url_dedup" -> ((s, dir) =>
      // URL dedup keeps the first doc per normalized URL (hot keys combine
      // map-side, not in a window) and passes non-URLs through untouched.
      UrlOps.dedupByUrl(
          docs(s, dir).select(col("doc_id"), urlCol.as("url")), "url", "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    "q_url_sitemap_parse" -> ((s, dir) => {
      // Sitemap XML parsing — the step after q_url_sitemaps finds the
      // sitemap URLs: urlset entries (loc + optional lastmod/priority,
      // whitespace-padded loc exercised), sitemapindex children routed by
      // kind, and a planted non-XML payload (%41) that must yield one
      // invalid row, never a failure.
      val k = col("doc_id") % 23
      val ids = col("doc_id").cast("string")
      val urlset = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://h"), k.cast("string"),
        lit(".com/a/"), ids, lit("</loc><lastmod>2024-01-0"),
        (col("doc_id") % 9 + 1).cast("string"), lit("</lastmod></url>"),
        lit("<url><loc>  https://h"), k.cast("string"), lit(".com/b/"), ids,
        lit(" </loc></url>"),
        lit("<url><loc>https://h"), k.cast("string"), lit(".com/c/"), ids,
        lit("</loc><priority>0."), (col("doc_id") % 10).cast("string"),
        lit("</priority></url></urlset>"))
      val index = concat(
        lit("<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>https://h"),
        k.cast("string"), lit(".com/maps/"), ids, lit("_1.xml</loc></sitemap>"),
        lit("<sitemap><loc>https://h"), k.cast("string"), lit(".com/maps/"), ids,
        lit("_2.xml</loc></sitemap></sitemapindex>"))
      val xml = when(col("doc_id") % 41 === 0, lit("this is not xml at all"))
        .when(col("doc_id") % 5 === 0, index)
        .otherwise(urlset)
      UrlOps.parseSitemap(
          docs(s, dir).select(col("doc_id"), xml.as("xml")), "xml")
        .select(col("doc_id"), col("kind"), col("entry_idx"), col("url"),
          col("lastmod"), col("priority"))
        .orderBy(col("doc_id"), col("entry_idx"))
    }),

    "q_url_domaincap" -> ((s, dir) => {
      // Corpus-level per-domain cap (RefinedWeb/FineWeb's anti-domination
      // stage — distinct from fetch politeness: this bounds what enters
      // the TRAINING MIXTURE): keep the best 5 docs per registered domain
      // by (score desc, doc_id). The row_number ≤ k filter sits directly
      // on the window so it plans as WindowGroupLimit — bounded map-side
      // top-k per domain (plan pinned by UrlOpsSpec). Domains via the
      // registered-domain kernel over the 23-host link-graph pool (the
      // co.uk multi-label suffix exercised every 4th host).
      val k = col("doc_id") % 23
      val pages = docs(s, dir).select(col("doc_id"),
        lgHostForm(k).as("host"),
        ((col("doc_id") * 37) % 100).as("score"))
      UrlOps.capPerDomain(pages, "host", "score", "doc_id", maxPerDomain = 5)
        .select(col("doc_id"), col("host"), col("score"), col("domain"),
          col("domain_rank"))
        .orderBy(col("domain"), col("domain_rank"))
    }),

    "q_url_refetch" -> ((s, dir) =>
      // Freshness-driven re-fetch scheduling over a 3-fetch history:
      // volatile pages (change every fetch) stay at the base rate,
      // one-change pages double once, stable pages double twice — the
      // change pattern is closed-form per doc class, so counts, tails
      // and intervals all hash-check. Per-URL windows over slim hash
      // rows; content never shuffles.
      graft.llm.UrlOps.refetchSchedule(
          docs(s, dir)
            .select(col("doc_id"), col("text"),
              explode(array(lit(0L), lit(1L), lit(2L))).as("f"))
            .select(concat(lit("u"), col("doc_id").cast("string")).as("url"),
              col("f").as("ts"),
              when(col("doc_id") % 3 === 0,
                concat(col("text"), lit(" v"), col("f").cast("string")))
                .when(col("doc_id") % 3 === 1,
                  when(col("f") >= 1, concat(col("text"), lit(" v1")))
                    .otherwise(col("text")))
                .otherwise(col("text")).as("content")),
          "url", "ts", "content", baseIntervalS = 60L, maxDoublings = 6)
        .orderBy(col("url"))),

    "q_url_snapshot" -> ((s, dir) => {
      // Keep-newest-snapshot re-crawl dedup (the same page fetched in
      // every crawl dump enters the corpus once, as its latest version):
      // 200 URLs × ~n/200 snapshots; max(struct) per URL — map-side
      // partials collapse hot URLs, no per-URL window buffering.
      val p = col("doc_id") % 200
      val snaps = docs(s, dir).select(col("doc_id"),
        concat(lit("https://h"), (p % 23).cast("string"), lit(".com/p/"),
          p.cast("string")).as("url"),
        (col("doc_id") + 1000).as("fetch_ts"),
        length(col("text")).cast("long").as("text_len"))
      UrlOps.keepLatestSnapshot(snaps, "url", "fetch_ts")
        .select(col("url"), col("fetch_ts"), col("doc_id"), col("text_len"))
        .orderBy(col("url"))
    }),

    "q_url_blocklist" -> ((s, dir) =>
      // Domain blocklist gate: survivors counted per registrable domain
      // (null = non-URL rows, which the gate must NOT drop).
      UrlOps.filterBlockedDomains(
          docs(s, dir).select(col("doc_id"), urlCol.as("url")), "url",
          Seq("blocked.net", "spam.example"))
        .groupBy(UrlOps.registeredDomain(UrlOps.urlHost(col("url"))).as("reg_domain"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("reg_domain"))),

    "q_url_politeness" -> ((s, dir) =>
      // Per-host fetch-round assignment at 2 URLs/host/round, priority =
      // doc_id: the %50 planted-duplicate cdn URLs exercise the URL
      // tie-break, the non-URL rows (m=4) must pass through with a null
      // slot. The oracle replays the window exactly.
      UrlOps.politenessSlots(
          docs(s, dir).select(col("doc_id"), urlCol.as("url")),
          "url", "doc_id", perSlot = 2)
        .select(col("doc_id"), col("host"), col("slot"))
        .orderBy(col("doc_id"))),

    "q_url_politeness_robots" -> ((s, dir) => {
      // Robots-aware politeness: each host's fetch rate derives from its
      // PARSED wildcard Crawl-delay (the codegen kernel — k%3==0 domains
      // declare 4 s → floor(8/4) = 2 fetches per 8-second round; the
      // googlebot-only delay at k%3==2 must be IGNORED → default 4), then
      // the per-host fetch-round window. The oracle states the rate
      // closed-form per k residue and replays the window.
      val ids = col("doc_id").cast("string")
      val k = col("doc_id") % 23
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://"), lgHostForm(k), lit("/p"), ids).as("url"))
      val delays = lgRobotsFrame(s, dir).select(col("domain"),
        graft.functions.RobotsKernels.crawlDelay(col("robots_txt")).as("delay"))
      val withRate = urls
        .join(broadcast(delays),
          UrlOps.registeredDomain(UrlOps.urlHost(col("url"))) === col("domain"),
          "left")
        .withColumn("per_slot",
          when(col("delay").isNotNull,
            greatest(lit(1L), floor(lit(8L) / col("delay"))))
          .otherwise(lit(4L)))
      UrlOps.politenessSlotsBy(withRate, "url", "doc_id", col("per_slot"))
        .select(col("doc_id"), col("host"), col("per_slot"), col("slot"))
        .orderBy(col("doc_id"))
    }),

    "q_dedup_lines" -> ((s, dir) =>
      // Line-level boilerplate dedup certificate: planted nav/footer lines
      // recur across ≥1/5 of the corpus and must vanish from EVERY doc;
      // every unique body line must survive — output equals the original
      // corpus text exactly.
      LineDedup.removeFrequentLines(linedDocs(s, dir), "doc_id", "text", minDocs = 50)
        .select(col("id").as("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    "q_dedup_lines_intra" -> ((s, dir) =>
      // Intra-document line dedup: each doc carries a promo line repeated
      // twice more plus two blank lines; only the FIRST promo survives,
      // both blanks survive (structure, not content), and the body keeps
      // its place — so the output is closed-form. Per-doc window, no
      // corpus frequency table.
      LineDedup.dedupLinesWithin(
          docsSpread(s, dir).select(col("doc_id"), concat_ws("\n",
            lit("limited time offer subscribe now"), col("text"), lit(""),
            lit("limited time offer subscribe now"), lit("")).as("text")),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("text"))
        .orderBy(col("doc_id"))),

    "q_dedup_lines_freq" -> ((s, dir) =>
      // The frequency side of the same gate: exactly the two planted lines
      // clear minDocs, with exact distinct-doc counts (string-confirmed —
      // a fingerprint collision cannot inflate these).
      LineDedup.frequentLines(linedDocs(s, dir), "doc_id", "text", minDocs = 50)
        .select(col("line"), col("n_docs"))
        .orderBy(col("line"))),

    "q_link_graph" -> ((s, dir) =>
      // Host link graph: href kernel → scheme gate → registered-domain
      // resolution → weighted (src, dst) edges. Planted self links and
      // mailto/relative targets must vanish; the mixed-case link must fold
      // into h5.com. One slim-key shuffle — page text never moves.
      graft.llm.LinkGraph.hostEdges(linkedPages(s, dir), col("host"), col("html"))
        .orderBy(col("src_domain"), col("dst_domain"))),

    "q_link_pagerank" -> ((s, dir) =>
      // Domain authority: 3 damped power-iteration rounds in integer
      // micro-rank units over the distinct-edge graph — exact under any
      // aggregation order, so the full iterative join chain hash-matches
      // the sequential oracle CTEs.
      graft.llm.LinkGraph.pageRank(
          graft.llm.LinkGraph.hostEdges(linkedPages(s, dir), col("host"), col("html")),
          iters = 3)
        .select(col("domain"), col("rank").as("rank_micro"))
        .orderBy(col("rank_micro").desc, col("domain"))),

    "q_link_hits" -> ((s, dir) =>
      // Hub/authority duality over the same extracted graph: 2 synchronous
      // integer micro rounds with exact-long sums and a DECIMAL(38,0)
      // sum-normalization — the directory-page (hub) signal focused-crawl
      // seed discovery needs and PageRank's single score collapses.
      graft.llm.LinkGraph.hits(
          graft.llm.LinkGraph.hostEdges(linkedPages(s, dir), col("host"), col("html")),
          iters = 2)
        .orderBy(col("auth_micro").desc, col("domain"))),

    "q_url_spoof" -> ((s, dir) => {
      // Spoofed-domain detection: hosts whose HOMOGLYPH SKELETON equals a
      // protected brand while the raw host differs — the phishing/SEO
      // shape (Cyrillic а in "pаypal.com") exact matching never sees.
      // Fixture: every %13 doc gets a Cyrillic-а spoof of brand-a.com,
      // every %17 one of shade-b.net; legitimate brand hosts and
      // unrelated hosts pass. Pure map + a 2-literal brand set.
      val ids = col("doc_id").cast("string")
      val m = col("doc_id") % 5
      val host = when(col("doc_id") % 13 === 0, lit("brаnd-а.com"))
        .when(col("doc_id") % 17 === 0, lit("shаde-b.net"))
        .when(m === 0, lit("brand-a.com"))
        .when(m === 1, lit("shade-b.net"))
        .otherwise(concat(lit("site"), ids, lit(".org")))
      val brands = Seq("brand-a.com", "shade-b.net")
      docs(s, dir).select(col("doc_id"), host.as("host"))
        .withColumn("skeleton", graft.llm.Dedup.homoglyphSkeleton(col("host")))
        .withColumn("spoof",
          col("skeleton").isin(brands: _*) && !col("host").isin(brands: _*))
        .filter(col("spoof"))
        .select(col("doc_id"), col("host"), col("skeleton"))
        .orderBy(col("doc_id"))
    }),

    "q_url_template" -> ((s, dir) =>
      // Crawler-trap detection: path templates ({n}/{h} collapse) counted
      // per host, trap = >5% of the corpus under one template. The
      // calendar and session-id spaces flag; every organic section stays
      // under threshold. One slim-key count shuffle + a broadcast one-row
      // total — integer cross-multiply, scale-invariant flag.
      graft.llm.UrlOps.templateReport(trapUrls(s, dir), "url",
          trapFracMicro = 50000L)
        .orderBy(col("host"), col("template"))),

    "q_url_trapgate" -> ((s, dir) =>
      // The mitigation: trap templates keep their first 5 URLs by doc_id
      // (WindowGroupLimit — bounded map-side state per group), organic
      // URLs pass untouched. 5 calendar + 5 session survivors, everything
      // else intact.
      graft.llm.UrlOps.trapGate(trapUrls(s, dir), "url", "doc_id",
          trapFracMicro = 50000L, cap = 5)
        .orderBy(col("doc_id"))),

    "q_link_trustrank" -> ((s, dir) =>
      // Spam demotion: 3 biased power-iteration rounds whose teleport mass
      // lands only on the vetted seed whitelist — trust flows outward from
      // seeds through the same integer micro-rank discipline as
      // q_link_pagerank, so domains the trusted region never (transitively)
      // links to end at exactly 0 and the iterative join chain hash-matches
      // the sequential oracle CTEs.
      graft.llm.LinkGraph.trustRank(
          graft.llm.LinkGraph.hostEdges(linkedPages(s, dir), col("host"), col("html")),
          seeds = lgTrustSeeds, iters = 3)
        .select(col("domain"), col("trust").as("trust_micro"))
        .orderBy(col("trust_micro").desc, col("domain"))),

    "q_url_robots_gate" -> ((s, dir) => {
      // robots.txt frontier compliance: per-domain policies parse ONCE
      // (kernel), broadcast as rule arrays, and each URL's path decides by
      // longest-prefix/allow-wins fold — /private drops, /private/pub
      // survives via Allow, /tmp drops, googlebot-only and allow-all
      // domains pass everything. Scan → broadcast join → filter.
      val ids = col("doc_id").cast("string")
      val k = col("doc_id") % 23
      val m = col("doc_id") % 5
      val path = when(m === 0, concat(lit("/private/x"), ids))
        .when(m === 1, concat(lit("/private/pub/y"), ids))
        .when(m === 2, concat(lit("/tmp/z"), ids))
        .when(m === 3, concat(lit("/ok/w"), ids))
        .otherwise(lit("/private"))
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://"), lgHostForm(k), path).as("url"))
      graft.llm.RobotsTxt.allowedGate(urls, "url", lgRobotsFrame(s, dir),
          "domain", "robots_txt")
        .orderBy(col("doc_id"))
    }),

    "q_html_maincontent" -> ((s, dir) => {
      // Block-level boilerplate removal: the nav (short AND link-dense),
      // the h1 stub and the footer all drop; only the article paragraph
      // survives — exactly the corpus text, which is what makes the
      // kernel's block accounting closed-form checkable. One codegen'd
      // scan per page, no shuffle.
      val ids = col("doc_id").cast("string")
      val page = concat(
        lit("<nav><a href=\"/\">home page</a> <a href=\"/about\">about us team</a></nav><h1>Doc "),
        ids, lit("</h1><p>"), col("text"),
        lit("</p><footer>copyright 2026</footer>"))
      // docsSpread: the block scan is CPU-heavy per row and the sf corpora
      // are single parquet files — without the spread the whole kernel
      // pass runs on ONE task (measured 12.9x at sf1 vs 10x data).
      docsSpread(s, dir).select(col("doc_id"),
          graft.functions.HtmlKernels.mainContent(page).as("main_text"))
        .orderBy(col("doc_id"))
    }),

    "q_url_robots_wildcard" -> ((s, dir) => {
      // RFC 9309 glob rules through the compiled decision kernel: the
      // anchored extension trap (Disallow: /*.tmp$) drops .tmp but not
      // .tmp2, the mid-path wildcard (/cal/*/day) outranks the /cal
      // prefix, and Allow: /cal/pub still beats /cal on specificity —
      // rules the prefix-only fold could never express.
      import s.implicits._
      val ids = col("doc_id").cast("string")
      val m5 = col("doc_id") % 5
      val path = when(m5 === 0, concat(lit("/files/f"), ids, lit(".tmp")))
        .when(m5 === 1, concat(lit("/files/f"), ids, lit(".tmp2")))
        .when(m5 === 2, concat(lit("/cal/"), (col("doc_id") % 100).cast("string"), lit("/day")))
        .when(m5 === 3, concat(lit("/cal/pub/x"), ids))
        .otherwise(concat(lit("/cal/x"), ids))
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://www.d.com"), path).as("url"))
      val robots = Seq(("d.com",
        "User-agent: *\nDisallow: /*.tmp$\nDisallow: /cal/*/day\n" +
          "Allow: /cal/pub\nDisallow: /cal\n")).toDF("domain", "robots_txt")
      graft.llm.RobotsTxt.allowedGate(urls, "url", robots, "domain", "robots_txt")
        .orderBy(col("doc_id"))
    }),

    "q_url_sitemaps" -> ((s, dir) =>
      // Frontier seeds: Sitemap directives are agent-independent, so only
      // the k%3==0 policies (the only ones carrying one) contribute —
      // exactly one per such domain, pointing at its own host.
      lgRobotsFrame(s, dir).select(col("domain"),
          explode(graft.functions.RobotsKernels.sitemaps(col("robots_txt"))).as("sitemap"))
        .orderBy(col("domain"))),

    "q_pipeline_frontier" -> ((s, dir) => {
      // Crawl-frontier construction end to end: robots.txt compliance →
      // domain blocklist → canonical URL dedup (planted alias groups via
      // doc_id % 115 paths; min doc_id survives) → per-host politeness
      // cap (hash-ordered first-5 per domain — stratifiedFirstN doubles
      // as the host-budget knob). Every stage is the registry operator,
      // composed; only the slim URL frame ever shuffles.
      val ids = col("doc_id").cast("string")
      val k = col("doc_id") % 23
      val m = col("doc_id") % 5
      val path = when(m === 0, concat(lit("/private/x"), ids))
        .when(m === 1, concat(lit("/private/pub/y"), ids))
        .when(m === 2, concat(lit("/tmp/z"), ids))
        .when(m === 3, concat(lit("/ok/w"), (col("doc_id") % 115).cast("string")))
        .otherwise(lit("/private"))
      val urls = docs(s, dir).select(col("doc_id"),
        concat(lit("https://"), lgHostForm(k), path).as("url"))
      val gated = graft.llm.RobotsTxt.allowedGate(urls, "url",
        lgRobotsFrame(s, dir), "domain", "robots_txt")
      val unblocked = UrlOps.filterBlockedDomains(gated, "url",
        Seq("h7.co.uk", "h10.com"))
      val deduped = UrlOps.dedupByUrl(unblocked, "url", "doc_id")
      graft.ops.Sampling.stratifiedFirstN(
          deduped.withColumn("__dom",
            UrlOps.registeredDomain(UrlOps.urlHost(col("url")))),
          Seq("__dom"), col("doc_id"), n = 5)
        .select(col("doc_id"), col("url"))
        .orderBy(col("doc_id"))
    }),

    "q_link_anchors" -> ((s, dir) =>
      // Anchor-text profile: the top term per TARGET domain by mention
      // count (ties lexicographic). Domains 12-22 draw both "one" (j1
      // links, ~n/23 mentions) and "two" (j2 links, ~n/11) so "two" must
      // win there; h5.com additionally draws "mix" (~n/7) which must beat
      // both; self-anchor "me" and mailto "mail" must not appear.
      graft.llm.LinkGraph.anchorTerms(linkedPages(s, dir), col("host"), col("html"), k = 1)
        .orderBy(col("dst_domain"))),

    "q_pipeline_linkgate" -> ((s, dir) => {
      // Authority-prior curation: the link graph ranks the corpus's OWN
      // domains, then docs served from domains that end at or above the
      // initial rank mass (rank_micro ≥ 10⁶ — net rank gainers) pass.
      // The ranks frame is domain-sized — the doc join broadcasts.
      val pages = linkedPages(s, dir)
      val ranks = graft.llm.LinkGraph.pageRank(
        graft.llm.LinkGraph.hostEdges(pages, col("host"), col("html")), iters = 3)
      pages.select(col("doc_id"),
          graft.llm.UrlOps.registeredDomain(lower(col("host"))).as("domain"))
        .join(broadcast(ranks.where(col("rank") >= 1000000L)), "domain")
        .select(col("doc_id"), col("domain"), col("rank").as("rank_micro"))
        .orderBy(col("doc_id"))
    })
  )

  // -------------------------------------------------------------- oracles

  val oracleSql: Map[String, String] = Map(

    "q_warc_sink" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 4 AS shard,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id) - 1 AS BIGINT)
        |      AS record_idx
        |  FROM documents WHERE doc_id % 5 = 1)
        |SELECT doc_id, shard, record_idx, text FROM d ORDER BY doc_id""".stripMargin,

    "q_shards_unigram" ->
      """SELECT true AS roundtrip_ok, CAST(count(*) AS BIGINT) AS n_docs
        |FROM documents""".stripMargin,

    "q_token_shards" ->
      """SELECT true AS roundtrip_ok, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS BIGINT)
        |    AS total_tokens
        |FROM documents""".stripMargin,

    "q_warc_dsv2" ->
      """WITH d AS (SELECT doc_id, text, doc_id % 8 AS k,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) - 1 AS BIGINT)
        |      AS record_idx
        |  FROM documents WHERE doc_id % 5 = 0)
        |SELECT doc_id, k % 2 = 1 AS gz, record_idx,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length, text
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_warc_gz_roundtrip" ->
      """WITH d AS (SELECT doc_id, text, source, doc_id % 40 AS file_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) - 1 AS INT)
        |      AS record_idx
        |  FROM documents)
        |SELECT file_id, record_idx,
        |  'http://example.com/' || source || '/' || doc_id AS target_uri,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length, text
        |FROM d ORDER BY file_id, record_idx""".stripMargin,

    "q_warc_roundtrip" ->
      """WITH d AS (SELECT doc_id, text, source, doc_id % 40 AS file_id,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 40 ORDER BY doc_id) - 1 AS INT)
        |      AS record_idx
        |  FROM documents)
        |SELECT file_id, record_idx,
        |  'http://example.com/' || source || '/' || doc_id AS target_uri,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS content_length, text
        |FROM d ORDER BY file_id, record_idx""".stripMargin,

    "q_warc_wet" ->
      """SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_warc_wat" ->
      """SELECT doc_id, doc_id % 11 <> 0 AS json_ok,
        |  CASE WHEN doc_id % 11 <> 0
        |    THEN CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) END AS n_words,
        |  CASE WHEN doc_id % 11 <> 0 THEN lang END AS lang
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_warc_cdx" ->
      """WITH d AS (SELECT doc_id, doc_id % 23 AS k,
        |    doc_id % 37 = 0 AS corrupt, doc_id % 29 = 0 AS notfound
        |  FROM documents)
        |SELECT doc_id,
        |  'com,h' || k || ')/p/' || doc_id AS urlkey,
        |  CAST(20240101000000 + doc_id AS VARCHAR) AS cdx_ts,
        |  NOT corrupt AS parse_ok,
        |  CASE WHEN NOT corrupt THEN 'https://h' || k || '.com/p/' || doc_id END AS url,
        |  CASE WHEN NOT corrupt THEN CASE WHEN notfound THEN '404' ELSE '200' END END AS status,
        |  CASE WHEN NOT corrupt THEN CAST((doc_id * 7) % 9973 AS BIGINT) END AS length_bytes,
        |  NOT corrupt AND NOT notfound AS kept
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_warc_quarantine" ->
      """WITH f AS (SELECT doc_id % 40 AS file_id, count(*) AS n FROM documents GROUP BY 1)
        |SELECT * FROM (
        |  SELECT file_id, CAST(n - 1 AS BIGINT) AS records_ok,
        |    'truncated_payload' AS reason FROM f WHERE file_id % 4 = 1
        |  UNION ALL
        |  SELECT file_id, CAST(0 AS BIGINT), 'bad_magic' FROM f WHERE file_id % 4 = 2
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT), CAST((SELECT sum(CASE WHEN file_id % 4 = 1 THEN n - 1
        |      WHEN file_id % 4 = 2 THEN 0 ELSE n END) FROM f) AS BIGINT), 'parsed')
        |ORDER BY file_id""".stripMargin,

    "q_html_extract" ->
      s"SELECT doc_id, $pageTextSql AS text FROM documents ORDER BY doc_id",

    "q_html_robots" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN 'noindex, nofollow'
        |       WHEN doc_id % 7 = 1 THEN 'index, follow' END AS robots,
        |  doc_id % 7 = 0 AS noindex
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pipeline_crawl" ->
      s"""SELECT doc_id, $pageTextSql AS text,
         |  CAST(6 + len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_pipeline_web" ->
      """WITH b AS (SELECT doc_id, text FROM documents
        |    WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 2),
        |k AS (SELECT doc_id, text,
        |    CASE WHEN doc_id % 5 = 3
        |      THEN row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id)
        |      ELSE 1 END AS rn
        |  FROM b),
        |t AS (SELECT doc_id,
        |    CASE doc_id % 5
        |      WHEN 0 THEN 'http://www.example.com/a/' || doc_id || '/index.html?x=1'
        |      WHEN 1 THEN 'https://news.site.co.uk/story/' || doc_id
        |      WHEN 3 THEN 'https://cdn.example.com:8080/asset/' || (doc_id % 50)
        |      END AS url_norm,
        |    CAST(6 + len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM k WHERE rn = 1)
        |SELECT doc_id, url_norm, n_tokens FROM t
        |WHERE n_tokens >= 8 ORDER BY doc_id""".stripMargin,

    "q_pipeline_web_main" ->
      // Closed form: the noindex seventh drops; main content equals the
      // corpus text when it clears the 25-codepoint block minimum; the
      // token gate then applies to exactly that text.
      """SELECT doc_id, text AS main_text,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM documents
        |WHERE doc_id % 7 <> 0 AND length(text) >= 25
        |  AND len(string_split_regex(trim(text), '\s+')) >= 8
        |ORDER BY doc_id""".stripMargin,

    "q_url_parse" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |p AS (SELECT doc_id, url,
         |    lower(nullif(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))
         |      AS scheme,
         |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth
         |  FROM u),
         |h AS (SELECT doc_id, url, scheme,
         |    lower(nullif(regexp_replace(auth, ':[0-9]*$$', ''), '')) AS host,
         |    CAST(nullif(regexp_extract(auth, ':([0-9]+)$$', 1), '') AS BIGINT) AS port
         |  FROM p)
         |SELECT doc_id, scheme, host, port,
         |  CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
         |    THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1)
         |    END AS path,
         |  nullif(regexp_extract(url, '[?]([^#]*)', 1), '') AS query,
         |  ${rdSql("host")} AS reg_domain
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_url_canonical" ->
      """SELECT doc_id,
        |  CASE doc_id % 4
        |    WHEN 0 THEN 'https://ex.com/p/' || doc_id || '?x=' || doc_id
        |    WHEN 1 THEN 'http://site.com/q'
        |    WHEN 2 THEN 'https://a.io/r/' || doc_id || '?x=1&y=2'
        |    END AS url_canon
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_url_normalize" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |p AS (SELECT doc_id, url,
         |    lower(nullif(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), ''))
         |      AS scheme,
         |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth
         |  FROM u),
         |h AS (SELECT doc_id, url, scheme,
         |    lower(nullif(regexp_replace(auth, ':[0-9]*$$', ''), '')) AS host,
         |    CAST(nullif(regexp_extract(auth, ':([0-9]+)$$', 1), '') AS BIGINT) AS port
         |  FROM p)
         |SELECT doc_id,
         |  CASE WHEN scheme IS NULL OR host IS NULL THEN NULL
         |    ELSE scheme || '://' || host ||
         |      CASE WHEN port IS NOT NULL
         |          AND NOT ((scheme = 'http' AND port = 80) OR (scheme = 'https' AND port = 443))
         |        THEN ':' || port ELSE '' END ||
         |      CASE WHEN regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) = ''
         |        THEN '/' ELSE regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) END ||
         |      CASE WHEN nullif(regexp_extract(url, '[?]([^#]*)', 1), '') IS NOT NULL
         |        THEN '?' || regexp_extract(url, '[?]([^#]*)', 1) ELSE '' END
         |    END AS url_norm
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      """SELECT doc_id FROM documents
        |WHERE doc_id % 5 IN (0, 1, 2, 4) OR (doc_id % 5 = 3 AND doc_id < 50)
        |ORDER BY doc_id""".stripMargin,

    "q_url_sitemap_parse" ->
      """WITH d AS (SELECT doc_id, doc_id % 23 AS k,
        |    doc_id % 41 = 0 AS corrupt, doc_id % 5 = 0 AS isidx FROM documents),
        |u AS (
        |  SELECT doc_id, 'urlset' AS kind, CAST(e.e AS INT) AS entry_idx,
        |    CASE e.e WHEN 0 THEN 'https://h' || k || '.com/a/' || doc_id
        |             WHEN 1 THEN 'https://h' || k || '.com/b/' || doc_id
        |             ELSE 'https://h' || k || '.com/c/' || doc_id END AS url,
        |    CASE WHEN e.e = 0 THEN '2024-01-0' || (doc_id % 9 + 1) END AS lastmod,
        |    CASE WHEN e.e = 2 THEN CAST('0.' || (doc_id % 10) AS DOUBLE) END AS priority
        |  FROM d, range(0, 3) e(e) WHERE NOT corrupt AND NOT isidx
        |  UNION ALL
        |  SELECT doc_id, 'sitemapindex', CAST(e.e AS INT),
        |    'https://h' || k || '.com/maps/' || doc_id || '_' || (e.e + 1) || '.xml',
        |    CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        |  FROM d, range(0, 2) e(e) WHERE NOT corrupt AND isidx
        |  UNION ALL
        |  SELECT doc_id, 'invalid', CAST(NULL AS INT), CAST(NULL AS VARCHAR),
        |    CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
        |  FROM d WHERE corrupt)
        |SELECT doc_id, kind, entry_idx, url, lastmod, priority
        |FROM u ORDER BY doc_id, entry_idx""".stripMargin,

    "q_url_domaincap" ->
      s"""WITH p AS (SELECT doc_id, ${lgHostSql("doc_id % 23")} AS host,
         |    (doc_id * 37) % 100 AS score, ${lgDomSql("doc_id % 23")} AS domain
         |  FROM documents),
         |r AS (SELECT doc_id, host, score, domain,
         |    row_number() OVER (PARTITION BY domain ORDER BY score DESC, doc_id) AS rn
         |  FROM p)
         |SELECT doc_id, host, score, domain, CAST(rn AS BIGINT) AS domain_rank
         |FROM r WHERE rn <= 5 ORDER BY domain, domain_rank""".stripMargin,

    "q_url_refetch" ->
      // Closed form per doc class: %3==0 changes at f=1 and f=2 (tail 0
      // → 60 s), %3==1 changes once at f=1 (tail 1 → 120 s), %3==2 never
      // (tail 2 → 240 s).
      """SELECT 'u' || doc_id AS url, CAST(3 AS BIGINT) AS n_snapshots,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END AS BIGINT) AS n_changes,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 0 WHEN 1 THEN 1 ELSE 2 END AS BIGINT) AS unchanged_tail,
        |  CAST(CASE doc_id % 3 WHEN 0 THEN 60 WHEN 1 THEN 120 ELSE 240 END AS BIGINT) AS next_interval_s
        |FROM documents ORDER BY url""".stripMargin,

    "q_url_snapshot" ->
      """WITH s AS (SELECT doc_id,
        |    'https://h' || ((doc_id % 200) % 23) || '.com/p/' || (doc_id % 200) AS url,
        |    doc_id + 1000 AS fetch_ts, CAST(length(text) AS BIGINT) AS text_len
        |  FROM documents),
        |r AS (SELECT doc_id, url, fetch_ts, text_len,
        |    row_number() OVER (PARTITION BY url ORDER BY fetch_ts DESC) AS rn
        |  FROM s)
        |SELECT url, fetch_ts, doc_id, text_len FROM r WHERE rn = 1
        |ORDER BY url""".stripMargin,

    "q_url_blocklist" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |h AS (SELECT doc_id,
         |    lower(nullif(regexp_replace(
         |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
         |      ':[0-9]*$$', ''), '')) AS host
         |  FROM u),
         |r AS (SELECT doc_id, ${rdSql("host")} AS reg_domain FROM h)
         |SELECT reg_domain, CAST(count(*) AS BIGINT) AS n FROM r
         |WHERE reg_domain IS NULL OR reg_domain NOT IN ('blocked.net', 'spam.example')
         |GROUP BY reg_domain ORDER BY reg_domain NULLS FIRST""".stripMargin,

    "q_url_politeness" ->
      // Window replay: rank within host by (doc_id, url), 2 per round;
      // null-host rows keep a null slot.
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |h AS (SELECT doc_id, url,
         |    lower(nullif(regexp_replace(
         |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
         |      ':[0-9]*$$', ''), '')) AS host
         |  FROM u)
         |SELECT doc_id, host,
         |  CASE WHEN host IS NULL THEN NULL
         |    ELSE CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id, url) - 1) // 2 AS BIGINT)
         |  END AS slot
         |FROM h ORDER BY doc_id""".stripMargin,

    "q_url_politeness_robots" ->
      s"""WITH u AS (SELECT doc_id, doc_id % 23 AS k,
         |    'https://' || ${lgHostSql("doc_id % 23")} || '/p' || doc_id AS url
         |  FROM documents),
         |r AS (SELECT doc_id, url, ${lgHostSql("k")} AS host,
         |    CAST(CASE WHEN k % 3 = 0 THEN 2 ELSE 4 END AS BIGINT) AS per_slot
         |  FROM u)
         |SELECT doc_id, host, per_slot,
         |  CAST((row_number() OVER (PARTITION BY host ORDER BY doc_id, url) - 1)
         |    // per_slot AS BIGINT) AS slot
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_dedup_lines" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    "q_dedup_lines_intra" ->
      """SELECT doc_id,
        |  'limited time offer subscribe now' || chr(10) || text || chr(10) || chr(10)
        |    AS text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dedup_lines_freq" ->
      s"""SELECT * FROM (
         |  SELECT '$boilerLine1' AS line,
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 3 = 0) AS n_docs
         |  UNION ALL
         |  SELECT '$boilerLine2' AS line,
         |    (SELECT CAST(count(*) AS BIGINT) FROM documents WHERE doc_id % 5 = 0) AS n_docs)
         |ORDER BY line""".stripMargin,

    "q_link_graph" ->
      s"""WITH $lgLinksSql
         |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS links
         |FROM lg_edges_w WHERE dst_domain <> src_domain
         |GROUP BY src_domain, dst_domain
         |ORDER BY src_domain, dst_domain""".stripMargin,

    "q_link_pagerank" ->
      s"""WITH $lgLinksSql,
         |lg_edges AS (SELECT DISTINCT src_domain AS src, dst_domain AS dst
         |  FROM lg_edges_w WHERE dst_domain <> src_domain),
         |lg_outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM lg_edges GROUP BY src),
         |lg_nodes AS (SELECT src AS domain FROM lg_edges UNION SELECT dst FROM lg_edges),
         |r0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS rank_micro FROM lg_nodes),
         |${lgRankStepSql(1)},
         |${lgRankStepSql(2)},
         |${lgRankStepSql(3)}
         |SELECT domain, rank_micro FROM r3 ORDER BY rank_micro DESC, domain""".stripMargin,

    "q_link_hits" ->
      s"""WITH $lgLinksSql,
         |lg_edges AS (SELECT DISTINCT src_domain AS src, dst_domain AS dst
         |  FROM lg_edges_w WHERE dst_domain <> src_domain),
         |lg_nodes AS (SELECT src AS domain FROM lg_edges UNION SELECT dst FROM lg_edges),
         |h0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS hub FROM lg_nodes),
         |${lgHitsStepSql(1)},
         |${lgHitsStepSql(2)}
         |SELECT a2.domain, a2.a AS auth_micro, h2.hub AS hub_micro
         |FROM a2 JOIN h2 ON h2.domain = a2.domain
         |ORDER BY auth_micro DESC, a2.domain""".stripMargin,

    "q_url_spoof" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0
        |    THEN 'br' || chr(1072) || 'nd-' || chr(1072) || '.com'
        |    ELSE 'sh' || chr(1072) || 'de-b.net' END AS host,
        |  CASE WHEN doc_id % 13 = 0 THEN 'brand-a.com'
        |    ELSE 'shade-b.net' END AS skeleton
        |FROM documents WHERE doc_id % 13 = 0 OR doc_id % 17 = 0
        |ORDER BY doc_id""".stripMargin,

    "q_url_template" ->
      s"""WITH $trapKeyedSql
         |SELECT host, template, n_urls, is_trap FROM trap_rep
         |ORDER BY host, template""".stripMargin,

    "q_url_trapgate" ->
      s"""WITH $trapKeyedSql,
         |trap_r AS (SELECT k.doc_id, k.url, r.is_trap,
         |    row_number() OVER (PARTITION BY k.host, k.template ORDER BY k.doc_id) AS rn
         |  FROM trap_k k JOIN trap_rep r ON k.host = r.host AND k.template = r.template)
         |SELECT doc_id, url FROM trap_r WHERE NOT is_trap OR rn <= 5
         |ORDER BY doc_id""".stripMargin,

    "q_link_trustrank" ->
      s"""WITH $lgLinksSql,
         |lg_edges AS (SELECT DISTINCT src_domain AS src, dst_domain AS dst
         |  FROM lg_edges_w WHERE dst_domain <> src_domain),
         |lg_outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM lg_edges GROUP BY src),
         |lg_nodes AS (SELECT src AS domain FROM lg_edges UNION SELECT dst FROM lg_edges),
         |t0 AS (SELECT domain, CAST(CASE WHEN domain IN ($lgTrustSeedsSql)
         |    THEN 1000000 ELSE 0 END AS BIGINT) AS trust_micro FROM lg_nodes),
         |${lgTrustStepSql(1)},
         |${lgTrustStepSql(2)},
         |${lgTrustStepSql(3)}
         |SELECT domain, trust_micro FROM t3 ORDER BY trust_micro DESC, domain""".stripMargin,

    "q_link_anchors" ->
      s"""WITH alinks AS (SELECT doc_id, unnest(list_value(
         |    {href: 'https://' || ${lgHostSql("(doc_id % 23 + 7) % 23")} || '/a/' || doc_id, t: 'one'},
         |    {href: 'https://' || ${lgHostSql("doc_id % 11 + 12")} || '/b/' || doc_id, t: 'two'},
         |    CASE WHEN doc_id % 7 = 0 THEN {href: 'HTTPS://WWW.H5.COM/mix/' || doc_id, t: 'mix'} END,
         |    CASE WHEN doc_id % 13 = 0 THEN {href: 'https://' || ${lgHostSql("doc_id % 23")} || '/self', t: 'me'} END,
         |    {href: 'mailto:ed@h1.com', t: 'mail'}, {href: '/rel/p', t: 'rel'})) AS a
         |  FROM documents),
         |am AS (SELECT ${lgDomSql("doc_id % 23")} AS src_domain,
         |    regexp_replace(lower(regexp_extract(a.href, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)), '^(www|news)\\.', '') AS dst_domain,
         |    a.t AS term
         |  FROM alinks WHERE regexp_matches(lower(a.href), '^https?://')),
         |ac AS (SELECT dst_domain, term, CAST(count(*) AS BIGINT) AS mentions
         |  FROM am WHERE dst_domain <> src_domain GROUP BY 1, 2),
         |rk AS (SELECT dst_domain, term, mentions,
         |    row_number() OVER (PARTITION BY dst_domain ORDER BY mentions DESC, term) AS rn
         |  FROM ac)
         |SELECT dst_domain, term, mentions FROM rk WHERE rn = 1
         |ORDER BY dst_domain""".stripMargin,

    "q_url_robots_gate" ->
      s"""SELECT doc_id,
         |  'https://' || ${lgHostSql("doc_id % 23")} ||
         |    CASE doc_id % 5 WHEN 0 THEN '/private/x' || doc_id
         |      WHEN 1 THEN '/private/pub/y' || doc_id
         |      WHEN 2 THEN '/tmp/z' || doc_id
         |      WHEN 3 THEN '/ok/w' || doc_id
         |      ELSE '/private' END AS url
         |FROM documents
         |WHERE (doc_id % 23) % 3 <> 0 OR doc_id % 5 IN (1, 3)
         |ORDER BY doc_id""".stripMargin,

    "q_html_maincontent" ->
      // Only the paragraph block can survive (nav/h1/footer are short or
      // link-dense by construction); it equals the corpus text whenever
      // that text clears the 25-codepoint block minimum.
      """SELECT doc_id,
        |  CASE WHEN length(text) >= 25 THEN text ELSE '' END AS main_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_url_robots_wildcard" ->
      // Closed-form keep set: only the anchored-miss (.tmp2) and
      // Allow-covered (/cal/pub) classes survive the glob rules.
      """SELECT doc_id,
        |  'https://www.d.com' || CASE doc_id % 5
        |    WHEN 0 THEN '/files/f' || doc_id || '.tmp'
        |    WHEN 1 THEN '/files/f' || doc_id || '.tmp2'
        |    WHEN 2 THEN '/cal/' || (doc_id % 100) || '/day'
        |    WHEN 3 THEN '/cal/pub/x' || doc_id
        |    ELSE '/cal/x' || doc_id END AS url
        |FROM documents WHERE doc_id % 5 IN (1, 3)
        |ORDER BY doc_id""".stripMargin,

    "q_url_sitemaps" ->
      s"""SELECT ${lgDomSql("k")} AS domain,
         |  'https://' || ${lgHostSql("k")} || '/sitemap.xml' AS sitemap
         |FROM (SELECT DISTINCT doc_id % 23 AS k FROM documents)
         |WHERE k % 3 = 0 ORDER BY domain""".stripMargin,

    "q_pipeline_frontier" ->
      s"""WITH u AS (SELECT doc_id, ${lgDomSql("doc_id % 23")} AS domain,
         |    'https://' || ${lgHostSql("doc_id % 23")} ||
         |      CASE doc_id % 5 WHEN 0 THEN '/private/x' || doc_id
         |        WHEN 1 THEN '/private/pub/y' || doc_id
         |        WHEN 2 THEN '/tmp/z' || doc_id
         |        WHEN 3 THEN '/ok/w' || (doc_id % 115)
         |        ELSE '/private' END AS url,
         |    doc_id % 23 AS k, doc_id % 5 AS m
         |  FROM documents),
         |g AS (SELECT * FROM u
         |  WHERE ((k % 3) <> 0 OR m IN (1, 3))
         |    AND k NOT IN (7, 10)
         |    AND (m NOT IN (3, 4) OR doc_id < 115)),
         |r AS (SELECT doc_id, url, row_number() OVER (PARTITION BY domain
         |    ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
         |  FROM g)
         |SELECT doc_id, url FROM r WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    "q_pipeline_linkgate" ->
      s"""WITH $lgLinksSql,
         |lg_edges AS (SELECT DISTINCT src_domain AS src, dst_domain AS dst
         |  FROM lg_edges_w WHERE dst_domain <> src_domain),
         |lg_outdeg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM lg_edges GROUP BY src),
         |lg_nodes AS (SELECT src AS domain FROM lg_edges UNION SELECT dst FROM lg_edges),
         |r0 AS (SELECT domain, CAST(1000000 AS BIGINT) AS rank_micro FROM lg_nodes),
         |${lgRankStepSql(1)},
         |${lgRankStepSql(2)},
         |${lgRankStepSql(3)}
         |SELECT d.doc_id, r.domain, r.rank_micro
         |FROM documents d JOIN r3 r ON r.domain = ${lgDomSql("d.doc_id % 23")}
         |WHERE r.rank_micro >= 1000000 ORDER BY d.doc_id""".stripMargin
  )
}
