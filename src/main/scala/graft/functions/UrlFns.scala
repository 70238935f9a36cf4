package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._

/** URL filtering machinery, RefinedWeb §G.1 style
  * (reference: operators/filters/url_filter.py).
  *
  * For small, config-provided domain sets the checks are inlined as
  * codegen'd boolean chains. For blocklists with millions of entries use
  * [[graft.operators.text.UrlFilter.withBlocklistTable]] which broadcasts
  * a blocklist DataFrame and joins on exploded domain suffixes — the
  * 100 TB-scale path.
  */
object UrlFns {

  /** Lowercased netloc of a URL (scheme optional, port kept — matches
    * url_filter.py:203 `_extract_domain` which returns `parsed.netloc`). */
  def extractDomain(url: Column): Column =
    lower(regexp_extract(url, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?([^/?#]+)", 1))

  /** domain == d or domain endswith ".d" (subdomain match,
    * url_filter.py:214 `_is_domain_blocked`). */
  def domainInSet(domain: Column, domains: Seq[String]): Column =
    domains.map(d => domain === d || domain.endsWith("." + d))
      .foldLeft(lit(false))(_ || _)

  /** URL word-severity score, url_filter.py:262 `_compute_url_score`:
    * `min(0.8 * max_weight + min(total_weight / 3, 0.2), 1.0)` over
    * matched words; 0.0 when nothing matches, null for a null URL.
    * Scored by the native [[graft.plans.UrlWordScore]] kernel over
    * Spark's `lower(url)`, folding the words in `weights.toSeq` order.
    */
  def urlScore(url: Column, weights: Map[String, Double]): Column = {
    val (words, wts) = weights.toSeq.unzip
    GraftColumnBridge.column(graft.plans.UrlWordScore(
      GraftColumnBridge.expression(lower(url)), words, wts))
  }

  private val schemeHostPat = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*"
  /** Tracking params stripped by [[canonicalizeUrl]]. */
  val trackingParamPat = "&(utm_[A-Za-z0-9]+|ref|fbclid|gclid)=[^&#]*"

  /** URL canonicalization for dedup keys / crawl frontier normalization:
    * drop the fragment, lowercase scheme+host, drop default ports,
    * strip tracking query params (utm_*, ref, fbclid, gclid), drop a
    * trailing slash. Pure regexp/replace chain — codegen'd, and every
    * pattern is RE2-portable (no backreferences, no group refs in
    * replacements, since replacement syntax differs across engines). */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    // lowercase "scheme://host[:port]" only (the path stays cased)
    val lowered = concat(
      lower(regexp_extract(noFrag, schemeHostPat, 0)),
      regexp_replace(noFrag, schemeHostPat, ""))
    // default ports, in each of the three follow-contexts
    val noPort = regexp_replace(
      replace(replace(replace(replace(lowered,
        lit(":443/"), lit("/")), lit(":80/"), lit("/")),
        lit(":443?"), lit("?")), lit(":80?"), lit("?")),
      ":(80|443)$", "")
    // unify separators ('?' is unique in a well-formed URL), strip
    // tracking params, then restore '?' before the first survivor
    val unified = regexp_replace(noPort, "\\?", "&")
    val stripped = regexp_replace(unified, trackingParamPat, "")
    val base = regexp_extract(stripped, "^[^&]*", 0)
    val rest = regexp_replace(stripped, "^[^&]*&?", "")
    val rejoined = when(rest === "", base).otherwise(concat(base, lit("?"), rest))
    regexp_replace(rejoined, "/$", "")
  }

  /** Default word weights from url_filter.py:24 DEFAULT_WORD_WEIGHTS. */
  val defaultWordWeights: Map[String, Double] = Map(
    "porn" -> 1.0, "xxx" -> 1.0, "sex" -> 0.8, "adult" -> 0.6,
    "nude" -> 0.9, "naked" -> 0.9, "erotic" -> 0.9, "nsfw" -> 1.0,
    "hentai" -> 1.0, "webcam" -> 0.5, "escort" -> 0.8, "fetish" -> 0.9,
    "casino" -> 0.9, "poker" -> 0.7, "gambling" -> 0.9, "betting" -> 0.8,
    "slot" -> 0.6, "jackpot" -> 0.7, "gore" -> 0.9, "hack" -> 0.5,
    "crack" -> 0.5, "warez" -> 0.9, "torrent" -> 0.6, "pirate" -> 0.6,
    "free-money" -> 0.8, "get-rich" -> 0.8, "click-here" -> 0.5,
    "buy-now" -> 0.4, "limited-offer" -> 0.5)

  /** Default curated-source exclusion list, url_filter.py:60
    * DEFAULT_EXCLUDED_QUALITY_SOURCES. */
  val defaultQualitySources: Seq[String] = Seq(
    "wikipedia.org", "wikimedia.org", "wikidata.org", "wikisource.org",
    "wikibooks.org", "wikiquote.org", "wikinews.org", "wikivoyage.org",
    "wiktionary.org", "arxiv.org", "pubmed.gov", "ncbi.nlm.nih.gov",
    "scholar.google.com", "semanticscholar.org", "acm.org", "ieee.org",
    "springer.com", "sciencedirect.com", "nature.com", "plos.org",
    "github.com", "gitlab.com", "bitbucket.org", "sourceforge.net",
    "stackoverflow.com", "stackexchange.com", "superuser.com",
    "serverfault.com", "askubuntu.com", "mathoverflow.net",
    "gutenberg.org", "archive.org", "openlibrary.org",
    "britannica.com", "encyclopedia.com")
}
