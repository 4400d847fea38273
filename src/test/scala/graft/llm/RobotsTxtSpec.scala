package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.functions.RobotsKernels

/** robots.txt parser kernel + REP longest-prefix matching gate. */
class RobotsTxtSpec extends SparkTestBase {
  import spark.implicits._

  private def rules(txt: String): Seq[(Boolean, String)] =
    Seq(txt).toDF("t")
      .select(explode(RobotsKernels.wildcardRules(col("t"))).as("r"))
      .select(col("r.allow"), col("r.prefix"))
      .as[(Boolean, String)].collect().toSeq

  /** The original interpreted prefix-only fold, the executable spec the
    * kernel is tested against on wildcard-free rule sets (where RFC 9309
    * matching degenerates to longest-prefix).
    */
  private def prefixDecisionSpec(rules: Column, path: Column): Column = {
    val folded = aggregate(
      rules,
      struct(lit(-1).as("l"), lit(true).as("allow")),
      (acc, r) => {
        val pl = length(r.getField("prefix"))
        val better = path.startsWith(r.getField("prefix")) &&
          (pl > acc.getField("l") ||
            (pl === acc.getField("l") && r.getField("allow")))
        when(better, struct(pl.as("l"), r.getField("allow").as("allow")))
          .otherwise(acc)
      })
    coalesce(folded.getField("allow"), lit(true)) // no robots row → allowed
  }

  test("parser: records, agent scoping, comments, unknown directives") {
    val txt =
      """# policy
        |User-agent: googlebot
        |Disallow: /
        |
        |User-agent: bingbot
        |User-agent: *
        |Disallow: /a   # trailing comment
        |Allow: /a/b
        |Crawl-delay: 10
        |Sitemap: https://x/s.xml
        |
        |User-agent: yandex
        |Disallow: /c
        |""".stripMargin
    // only the record containing * contributes; shared-agent record works
    assert(rules(txt) == Seq((false, "/a"), (true, "/a/b")))
  }

  test("parser: empty Disallow is allow-all; case/space tolerance; CRLF") {
    assert(rules("User-agent: *\nDisallow:\n") == Seq())
    assert(rules("USER-AGENT : *\r\nDISALLOW : /x\r\nallow: /x/y\r\n") ==
      Seq((false, "/x"), (true, "/x/y")))
    assert(rules("User-agent: googlebot\nDisallow: /\n") == Seq())
    assert(rules("") == Seq())
  }

  test("sitemaps: agent-independent, any record, comments stripped") {
    val txt =
      """User-agent: googlebot
        |Sitemap: https://a/s1.xml
        |User-agent: *
        |Disallow: /x
        |sitemap: https://a/s2.xml  # lowercase directive, trailing comment
        |Sitemap:
        |""".stripMargin
    val got = Seq(txt).toDF("t")
      .select(explode(RobotsKernels.sitemaps(col("t"))).as("s"))
      .as[String].collect().toSeq
    assert(got == Seq("https://a/s1.xml", "https://a/s2.xml")) // empty value skipped
  }

  test("crawl-delay: wildcard record only, first wins, ceil of decimals, null otherwise") {
    val s = spark; import s.implicits._
    val cases = Seq(
      // wildcard record carries the delay
      ("User-agent: *\nCrawl-delay: 4\nDisallow: /x\n", Some(4L)),
      // googlebot-only delay is NOT ours
      ("User-agent: googlebot\nCrawl-delay: 5\nDisallow: /\n", None),
      // both records: wildcard's value wins for us
      ("User-agent: googlebot\nCrawl-delay: 9\n\nUser-agent: *\nCrawl-delay: 2\n", Some(2L)),
      // decimal rounds UP (conservative), comment stripped
      ("User-agent: *\nCrawl-delay: 1.5 # be nice\n", Some(2L)),
      // first applying directive wins
      ("User-agent: *\nCrawl-delay: 3\nCrawl-delay: 7\n", Some(3L)),
      // unparsable → skipped; none left → null
      ("User-agent: *\nCrawl-delay: soon\n", None),
      ("User-agent: *\nDisallow: /\n", None))
    val got = cases.map(_._1).toDF("t")
      .select($"t", graft.functions.RobotsKernels.crawlDelay($"t"))
      .as[(String, Option[Long])].collect().toMap
    cases.foreach { case (t, want) => assert(got(t) == want, s"robots:\n$t") }
  }

  test("politenessSlotsBy: per-host rate column drives independent round sizes") {
    val s = spark; import s.implicits._
    val df = Seq(
      (1L, "http://slow.com/a", 1L), (2L, "http://slow.com/b", 1L),
      (3L, "http://fast.com/a", 2L), (4L, "http://fast.com/b", 2L),
      (5L, "http://fast.com/c", 2L)).toDF("id", "url", "rate")
    val out = UrlOps.politenessSlotsBy(df, "url", "id", col("rate"))
      .select($"id", $"slot").as[(Long, Option[Long])].collect().toMap
    // slow.com at 1/round: rounds 0, 1; fast.com at 2/round: 0, 0, 1
    assert(out(1L).contains(0L) && out(2L).contains(1L))
    assert(out(3L).contains(0L) && out(4L).contains(0L) && out(5L).contains(1L))
  }

  test("gate: longest prefix wins, ties prefer Allow, absent domain allows") {
    val robots = Seq(
      ("d.com", "User-agent: *\nDisallow: /p\nAllow: /p/ok\nDisallow: /p/ok\n"),
      ("open.com", "User-agent: *\nDisallow:\n"))
      .toDF("domain", "robots_txt")
    val urls = Seq(
      (1L, "https://www.d.com/p/x"),      // Disallow /p → drop
      (2L, "https://www.d.com/p/ok/y"),   // Allow /p/ok ties Disallow /p/ok → keep
      (3L, "https://www.d.com/free"),     // no rule matches → keep
      (4L, "https://www.open.com/p/x"),   // allow-all domain → keep
      (5L, "https://no-robots.com/x"))    // domain without robots → keep
      .toDF("id", "url")
    val kept = RobotsTxt.allowedGate(urls, "url", robots, "domain", "robots_txt")
      .select(col("id")).as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L, 5L))
  }

  test("RFC 9309 pattern matcher: *, terminal $, literal mid-$, backtracking") {
    import graft.functions.RobotsImpl.patternMatches
    assert(patternMatches("/p", "/p/x"))            // prefix
    assert(!patternMatches("/p/x", "/p"))
    assert(patternMatches("/*.pdf$", "/a/b/doc.pdf"))
    assert(!patternMatches("/*.pdf$", "/a/doc.pdf.html")) // anchored
    assert(patternMatches("/*.pdf", "/a/doc.pdf.html"))   // unanchored
    assert(patternMatches("/cal/*/day", "/cal/2026/day/5"))
    assert(!patternMatches("/cal/*/day", "/cal/2026"))
    assert(patternMatches("/a*b*c$", "/aXXbYYc"))
    assert(!patternMatches("/a*b*c$", "/aXXbYYcZ"))
    assert(patternMatches("/fish*$", "/fishing"))   // * before anchor
    assert(patternMatches("/x$y", "/x$y/z"))        // mid-$ is literal
    assert(!patternMatches("/x$y", "/xy"))
    assert(patternMatches("", "/anything"))         // empty pattern = match-all
    // greedy-star backtracking: first 'b' fails, later 'b' succeeds
    assert(patternMatches("/*bc$", "/abXbc"))
  }

  test("RFC 9309 gate: wildcard and anchored rules decide; kernel == prefix fold without wildcards") {
    val robots = Seq(
      ("d.com", "User-agent: *\nDisallow: /*.tmp$\nDisallow: /cal/*/day\n" +
        "Allow: /cal/pub\nDisallow: /cal\n"))
      .toDF("domain", "robots_txt")
    val urls = Seq(
      (1L, "https://www.d.com/files/f1.tmp"),   // anchored glob → drop
      (2L, "https://www.d.com/files/f1.tmp2"),  // anchor misses → keep
      (3L, "https://www.d.com/cal/2026/day"),   // /cal/*/day (len 11) → drop
      (4L, "https://www.d.com/cal/pub/x"),      // Allow /cal/pub (8) > /cal (4) → keep
      (5L, "https://www.d.com/cal/x"))          // /cal → drop
      .toDF("id", "url")
    val kept = RobotsTxt.allowedGate(urls, "url", robots, "domain", "robots_txt")
      .select(col("id")).as[Long].collect().toSet
    assert(kept == Set(2L, 4L))
    // Wildcard-free rules: the compiled kernel must agree with the
    // interpreted longest-prefix fold on every (rules, path) combination.
    val plain = Seq(
      "User-agent: *\nDisallow: /p\nAllow: /p/ok\nDisallow: /p/ok\n",
      "User-agent: *\nDisallow:\n",
      "User-agent: *\nDisallow: /\nAllow: /pub\n")
    val paths = Seq("/p/x", "/p/ok/y", "/p/ok", "/free", "/", "/pub/z", "/pu")
    val combos = for (t <- plain; p <- paths) yield (t, p)
    val df = combos.toDF("t", "p")
      .select(RobotsKernels.wildcardRules(col("t")).as("r"), col("p"))
    val viaKernel = df.select(coalesce(
        RobotsKernels.allowedPath(col("r"), col("p")), lit(true)))
      .as[Boolean].collect().toSeq
    val viaFold = df.select(prefixDecisionSpec(col("r"), col("p")))
      .as[Boolean].collect().toSeq
    assert(viaKernel == viaFold)
  }
}
