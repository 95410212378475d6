package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization — the dedup-key step of a web-corpus pipeline
  * (two scrapes of one page differ only in scheme/host case, default
  * ports, utm_* tracking params, fragments and trailing slashes;
  * canonicalizing first is what makes URL-level dedup sound). All
  * components are row-local regex/HOF expressions in the Java∩RE2
  * subset, so the same rules replay in a SQL oracle; paths stay
  * case-sensitive per RFC 3986.
  */
object UrlFunctions {

  def scheme(url: Column): Column =
    lower(regexp_extract(url, "^([A-Za-z]+)://", 1))

  private def hostport(url: Column): Column =
    regexp_extract(url, "^[A-Za-z]+://([^/?#]+)", 1)

  def host(url: Column): Column =
    lower(regexp_extract(hostport(url), "^([^:]+)", 1))

  /** Port as a string, "" when absent. */
  def port(url: Column): Column =
    regexp_extract(hostport(url), ":([0-9]+)$", 1)

  /** Path with trailing slashes trimmed ("" for a bare authority). */
  def canonPath(url: Column): Column =
    regexp_replace(
      regexp_extract(url, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/+$", "")

  /** Query string with utm_* params dropped, other params kept in
    * order; "" when absent or when only utm params remain. */
  def canonQuery(url: Column): Column =
    array_join(
      filter(split(regexp_extract(url, "\\?([^#]*)", 1), "&"),
        p => !p.startsWith("utm_") && p =!= ""), "&")

  /** Frozen subset of the Mozilla Public Suffix List: the multi-label
    * public suffixes under which registrations happen one label deeper
    * (`foo.co.uk` registers under `co.uk`, so its registered domain is
    * `foo.co.uk`, not `co.uk`). A production web-corpus pipeline would
    * broadcast the full PSL; this frozen subset covers the common ccTLD
    * second-level registries and is shared verbatim with the DuckDB
    * oracle (TextDedupQueries interpolates it into the `url_canonicalize`
    * SQL) so the dedup key cannot drift between the two sides. */
  val MultiLabelSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "ltd.uk", "plc.uk",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.jp", "ne.jp", "or.jp", "ac.jp", "go.jp", "ad.jp", "ed.jp",
    "co.nz", "net.nz", "org.nz", "ac.nz", "govt.nz",
    "com.br", "net.br", "org.br", "gov.br", "edu.br",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn",
    "co.in", "net.in", "org.in", "gen.in", "firm.in",
    "co.kr", "or.kr", "ne.kr", "re.kr", "go.kr",
    "com.mx", "org.mx", "net.mx", "edu.mx", "gob.mx",
    "com.ar", "com.sg", "com.my", "com.tr", "com.tw", "com.hk", "com.ph",
    "com.vn", "com.eg", "com.sa", "com.ua", "com.pk", "com.bd", "com.ng",
    "co.za", "org.za", "web.za", "net.za", "gov.za",
    "co.il", "org.il", "ac.il", "co.th", "or.th", "ac.th", "co.id", "or.id")

  /** Registered domain: the last two host labels, or the last THREE when
    * the last two are a multi-label public suffix from
    * [[MultiLabelSuffixes]] (the `foo.co.uk` case). */
  def registeredDomain(url: Column): Column = {
    val h = host(url)
    val last2 = regexp_extract(h, "([a-z0-9-]+\\.[a-z0-9-]+)$", 1)
    val last3 = regexp_extract(h, "([a-z0-9-]+\\.[a-z0-9-]+\\.[a-z0-9-]+)$", 1)
    when(last2.isin(MultiLabelSuffixes: _*) && last3 =!= "", last3)
      .otherwise(last2)
  }

  /** Number of non-empty path segments after canonicalization. */
  def pathDepth(url: Column): Column =
    size(filter(split(canonPath(url), "/"), s => s =!= ""))

  /** The canonical URL: lowercased scheme+host, default port stripped
    * (443 for https, 80 for http; other ports kept), fragment dropped,
    * utm_* params dropped, trailing slashes trimmed. */
  def canonicalize(url: Column): Column = {
    val sc = scheme(url)
    val p = port(url)
    val q = canonQuery(url)
    val defaultPort = (sc === "https" && p === "443") ||
      (sc === "http" && p === "80")
    concat(sc, lit("://"), host(url),
      when(p === "" || defaultPort, lit("")).otherwise(concat(lit(":"), p)),
      canonPath(url),
      when(q === "", lit("")).otherwise(concat(lit("?"), q)))
  }
}
