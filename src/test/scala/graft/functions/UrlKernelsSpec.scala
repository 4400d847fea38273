package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.llm.UrlOps

/** The single-pass URL kernels against their executable specification,
  * `regexSpec` below (the regexp formulation the DuckDB oracles
  * mirror): every field must agree on a fuzzed URL corpus plus the
  * hand-picked degenerate shapes. `UrlOpsSpec` covers the semantics
  * themselves; this spec covers kernel ≡ spec.
  */
class UrlKernelsSpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic fuzz corpus: cross-product of scheme/authority/path/
    * query/fragment fragments, including degenerate and non-URL shapes.
    */
  private lazy val fuzz: Seq[String] = {
    val schemes = Seq("http://", "HTTPS://", "ftp+ssh://", "a.-+://", "", "1http://", "http:/",
      "http:", "://")
    val auths = Seq("ex.com", "WWW.Example.COM", "a.b.news.co.uk", "192.168.0.1", "host:8080",
      "host:80", "host:", "host::", "a:b:443", "ab:12x", "", "user@ex.com")
    val paths = Seq("", "/", "/a/b.html", "/a b", "//double")
    val tails = Seq("", "?", "?q=1&r=2", "#frag", "?q=1#frag", "#f?notquery", "?#")
    val whole = for (s <- schemes; a <- auths; p <- paths; t <- tails) yield s + a + p + t
    whole ++ Seq("", "not a url", "x", "junk?q=1", "weird#f", "a//b", ":// ")
  }

  /** The original regexp formulation of the parse — the executable
    * specification the kernels and the DuckDB oracles both mirror. Not for
    * a query path: each field is an independent regex pass and the composed
    * `normalizeUrl` inlines ~15 of them per row.
    */
  private object regexSpec {

    def urlScheme(u: Column): Column =
      nullIfEmpty(lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)))

    private def authority(u: Column): Column =
      regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)

    def urlHost(u: Column): Column =
      nullIfEmpty(lower(regexp_replace(authority(u), ":[0-9]*$", "")))

    def urlPort(u: Column): Column =
      nullIfEmpty(regexp_extract(authority(u), ":([0-9]+)$", 1)).cast("long")

    def urlPath(u: Column): Column = {
      val p = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
      when(p === "", lit("/")).otherwise(p)
    }

    def urlQuery(u: Column): Column =
      nullIfEmpty(regexp_extract(u, "\\?([^#]*)", 1))

    private def nullIfEmpty(c: Column): Column = when(c === "", lit(null)).otherwise(c)

    def registeredDomain(host: Column): Column = {
      val labels = split(host, "\\.")
      val n = size(labels)
      val last2 = concat_ws(".", element_at(labels, -2), element_at(labels, -1))
      val last3 = concat_ws(".", element_at(labels, -3), last2)
      // explicit null guard: concat_ws treats null labels as '', so without
      // it a null host would fall through to an empty-string domain
      when(host.isNull, lit(null))
        .when(host.rlike("^[0-9.]+$"), host) // IPv4 literal
        .when(n <= 2, host)
        .when(last2.isin(UrlOps.multiLabelSuffixes: _*), last3)
        .otherwise(last2)
    }

    def normalizeUrl(u: Column): Column = {
      val scheme = urlScheme(u)
      val host = urlHost(u)
      val port = urlPort(u)
      val keepPort = port.isNotNull &&
        !((scheme === "http" && port === 80) || (scheme === "https" && port === 443))
      when(scheme.isNull || host.isNull, lit(null)).otherwise(
        concat(
          scheme, lit("://"), host,
          when(keepPort, concat(lit(":"), port.cast("string"))).otherwise(lit("")),
          urlPath(u),
          when(urlQuery(u).isNotNull, concat(lit("?"), urlQuery(u))).otherwise(lit(""))))
    }
  }

  test("all parse fields and normalize agree with regexSpec on the fuzz corpus") {
    val df = fuzz.toDF("u")
    val cmp = df.select(
      col("u"),
      UrlKernels.urlScheme(col("u")).as("k_scheme"), regexSpec.urlScheme(col("u")).as("s_scheme"),
      UrlKernels.urlHost(col("u")).as("k_host"), regexSpec.urlHost(col("u")).as("s_host"),
      UrlKernels.urlPort(col("u")).as("k_port"), regexSpec.urlPort(col("u")).as("s_port"),
      UrlKernels.urlPath(col("u")).as("k_path"), regexSpec.urlPath(col("u")).as("s_path"),
      UrlKernels.urlQuery(col("u")).as("k_query"), regexSpec.urlQuery(col("u")).as("s_query"),
      UrlKernels.normalizeUrl(col("u")).as("k_norm"), regexSpec.normalizeUrl(col("u")).as("s_norm"))
    val bad = cmp.filter(
      !(col("k_scheme") <=> col("s_scheme")) || !(col("k_host") <=> col("s_host")) ||
      !(col("k_port") <=> col("s_port")) || !(col("k_path") <=> col("s_path")) ||
      !(col("k_query") <=> col("s_query")) || !(col("k_norm") <=> col("s_norm")))
      .collect()
    assert(bad.isEmpty, s"kernel/spec divergence on ${bad.length} URLs, first: ${bad.headOption}")
  }

  test("registeredDomain agrees with regexSpec on fuzzed hosts") {
    val hosts = Seq(
      "www.example.com", "example.com", "localhost", "a.b.news.co.uk", "news.co.uk", "co.uk",
      "example.com.au", "x.example.com.au", "192.168.0.1", "10.0.0.1.2.3", "a.b.c.d.e",
      "", "a", "a.", ".a", "a..b", "sub.org.uk", "deep.sub.org.uk", "1.2", "1.2.3.4.co.uk")
    val df = hosts.toDF("h")
    val bad = df.select(
        col("h"),
        UrlKernels.registeredDomain(col("h"), UrlOps.multiLabelSuffixes).as("k"),
        regexSpec.registeredDomain(col("h")).as("s"))
      .filter(!(col("k") <=> col("s"))).collect()
    assert(bad.isEmpty, s"registeredDomain divergence: ${bad.mkString(", ")}")
  }

  test("interpreted eval path matches codegen (nullSafeEval vs doGenCode)") {
    // Column ops on a literal-free plan go through codegen; force the
    // interpreted path via direct expression eval on the same inputs.
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = Seq("HTTP://Ex.COM:80/p?q=1#f", "https://a.co.uk", "junk", "")
    for (u <- inputs; part <- Seq("scheme", "host", "path", "query", "normalize")) {
      val viaEval = UrlStringPart(Literal(UTF8String.fromString(u), org.apache.spark.sql.types.StringType), part).eval(null)
      val colFn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = part match {
        case "scheme" => UrlKernels.urlScheme
        case "host" => UrlKernels.urlHost
        case "path" => UrlKernels.urlPath
        case "query" => UrlKernels.urlQuery
        case "normalize" => UrlKernels.normalizeUrl
      }
      val viaDf = Seq(u).toDF("u").select(colFn(col("u"))).collect().head.get(0)
      val evalStr = if (viaEval == null) null else viaEval.toString
      assert(evalStr == viaDf, s"eval/codegen divergence for $part on '$u'")
    }
  }
}
