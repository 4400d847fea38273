package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.RobotsKernels

/** robots.txt compliance gate over a URL corpus — the frontier-side
  * counterpart of the robots-META noindex gate: given each domain's
  * `/robots.txt` body, keep only URLs whose path the wildcard-agent record
  * permits under the published REP semantics (longest matching prefix
  * wins; at equal length Allow beats Disallow; no matching rule — or no
  * wildcard record at all — means allowed).
  *
  * Scale shape: robots bodies are one small row PER DOMAIN (10⁸ domains ≪
  * corpus), parsed ONCE by the [[RobotsKernels.wildcardRules]] kernel into
  * a rules array and broadcast; the per-URL decision is then a single
  * projection folding that array — scan → broadcast join → filter, the URL
  * corpus never shuffles and no per-URL rule explosion exists. The fold is
  * a higher-order `aggregate` (interpreted), but over a per-domain rule
  * list that is tens of entries, not corpus-sized — staged per the PLANS
  * finding 15 discipline (parse once, fold the stored array).
  */
object RobotsTxt {

  /** Best-match decision for `path` against a `rules` array column
    * (`array<struct<allow,prefix>>`) — the compiled RFC 9309 kernel
    * ([[RobotsKernels.allowedPath]]): most-specific match wins, Allow
    * beats Disallow at ties, and path patterns support `*` plus the
    * terminal `$` anchor (the prefix-only fold silently never matched
    * a glob rule like `Disallow: "/" "*" ".pdf$"`). Null rules (no
    * robots row) → allowed. On wildcard-free rule sets, where RFC 9309
    * matching degenerates to longest-prefix, kernel ≡ the interpreted
    * prefix fold is pinned by `RobotsTxtSpec`.
    */
  private def allowDecision(rules: Column, path: Column): Column =
    coalesce(RobotsKernels.allowedPath(rules, path), lit(true))

  /** Keep the rows of `urls` whose `urlCol` the domain's robots.txt allows
    * for the wildcard agent. `robots` carries one row per registrable
    * domain: (`domainCol`, `txtCol`).
    */
  def allowedGate(urls: DataFrame, urlCol: String,
      robots: DataFrame, domainCol: String, txtCol: String): DataFrame = {
    val rules = robots.select(
      col(domainCol).as("__robots_domain"),
      RobotsKernels.wildcardRules(col(txtCol)).as("__rules"))
    urls
      .withColumn("__dom",
        UrlOps.registeredDomain(UrlOps.urlHost(col(urlCol))))
      .join(broadcast(rules), col("__dom") === col("__robots_domain"), "left")
      .where(allowDecision(col("__rules"), UrlOps.urlPath(col(urlCol))))
      .drop("__dom", "__robots_domain", "__rules")
  }
}
