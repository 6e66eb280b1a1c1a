package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.expressions.CanonicalUrl

/** URL-family column functions (SURVEY.md §2.7 F1, F7, F8, F12; §2.2 P3/P4).
  *
  * Semantics re-expressed from the reference's URL helpers
  * (`apps-scripts/code-LLM-intergration.js:124-127,281-294,542,551-564,
  * 612-619`) as codegen-friendly Catalyst expressions — every function here
  * is a pure column expression (no UDF), so whole-stage codegen keeps them
  * in the hot path at scale.
  */
object UrlFns {

  /** ATS host classifier pattern (P3) — 15 applicant-tracking-system hosts
    * (`code-LLM-intergration.js:281-284`). Un-anchored contains-match. */
  val AtsHostRe: String =
    "(?i)(lever\\.co|ashbyhq\\.com|job-boards\\.greenhouse\\.io|boards\\.greenhouse\\.io|" +
    "myworkdayjobs\\.com|workdayjobs\\.com|smartrecruiters\\.com|jobvite\\.com|" +
    "apply\\.workable\\.com|ats\\.rippling\\.com|recruiting(?:2)?\\.ultipro\\.com|" +
    "icims\\.com|oraclecloud\\.com|brassring\\.com|paylocity\\.com)"

  /** Aggregator host classifier pattern (P4) — 14 wrapper/aggregator hosts
    * (`code-LLM-intergration.js:291-294`). */
  val AggregatorHostRe: String =
    "(?i)(jobright\\.ai|allup\\.world|ycombinator\\.com|linkedin\\.com|indeed\\.com|" +
    "glassdoor\\.com|levels\\.fyi|builtin\\.(?:com|nyc|chicago|sf)|wellfound\\.com|" +
    "angel\\.co|dice\\.com|monster\\.com|ziprecruiter\\.com)"

  /** F1 `hostFromUrl_`: lowercase hostname with leading `www.` stripped;
    * empty string when the URL does not parse
    * (`code-LLM-intergration.js:124-127`). */
  def host_from_url(url: Column): Column =
    coalesce(
      regexp_replace(lower(try_parse_url(url, lit("HOST"))), "^www\\.", ""),
      lit(""))

  /** P3: host string matches a known ATS. */
  def is_ats_host(host: Column): Column = host.rlike(AtsHostRe)

  /** P4: host string matches a known aggregator. */
  def is_aggregator_host(host: Column): Column = host.rlike(AggregatorHostRe)

  /** F7 `niceCase_`: slug → Title Case, preserving intra-word case
    * (`acme-corp` → `Acme Corp`, `IBM-corp` → `IBM Corp`;
    * `code-LLM-intergration.js:542`). Unlike `initcap`, the remainder of
    * each word is left untouched — matches the reference's `\b\w`
    * uppercase-first-letter-only behavior. */
  def nice_case(slug: Column): Column = {
    val spaced = trim(regexp_replace(regexp_replace(slug, "[-_]+", " "), "\\s+", " "))
    array_join(
      transform(split(spaced, " "),
        w => concat(upper(w.substr(lit(1), lit(1))), w.substr(lit(2), length(w)))),
      " ")
  }

  /** F8 `guessCompanyFromUrl_`: company slug from 10 host-specific URL
    * patterns, first-match-wins (`code-LLM-intergration.js:551-564`).
    * The reference lowercases the URL before matching; we do the same.
    * Note: the reference's paylocity arm matches `/Details/` against the
    * already-lowercased string and so can never fire — we implement the
    * documented intent (lowercase `details`). */
  def guess_company_from_url(url: Column): Column = {
    val u = lower(url)
    def pat(p: String): Column = nullif(regexp_extract(u, p, 1), lit(""))
    val hit = coalesce(
      pat("(?:job-boards|boards)\\.greenhouse\\.io/([^/?#]+)/jobs/"),
      pat("jobs\\.lever\\.co/([^/?#]+)/"),
      pat("jobs\\.ashbyhq\\.com/([^/?#]+)/"),
      pat("apply\\.workable\\.com/([^/?#]+)/"),
      pat("jobs\\.smartrecruiters\\.com/([^/?#]+)/"),
      pat("jobs\\.jobvite\\.com/([^/?#]+)/"),
      pat("ats\\.rippling\\.com/([^/?#]+)/"),
      pat("myworkdayjobs\\.com/(?:[a-z-]+/)?([^/?#]+)/"),
      pat("workdayjobs\\.com/(?:[a-z-]+/)?([^/?#]+)/"),
      pat("recruiting\\.paylocity\\.com/.*/details/\\d+/([^/?#]+)"))
    coalesce(nice_case(hit), lit(""))
  }

  /** F12 `makeCanonical_`: strip 14 tracking params from the query string,
    * preserving everything else (`code-LLM-intergration.js:612-619`).
    * Backed by the custom Catalyst expression [[CanonicalUrl]] (flagship
    * extension point — scalar expression with codegen). */
  def canonical_url(url: Column): Column = CanonicalUrl.canonical_url(url)

  /** F14 `findFirstAtsLinkIn_`: first `href` in the page whose host is a
    * known ATS (`code-LLM-intergration.js:421-428`) — aggregator unwrap.
    * Pure higher-order-function pipeline: extract-all → filter → first. */
  def find_first_ats_link(html: Column): Column =
    coalesce(first_ats_link(html), lit(""))

  /** [[find_first_ats_link]] with null, not '', when the page holds no
    * ATS href — the form a caller gating on "found one" reads once. */
  def first_ats_link(html: Column): Column = {
    val hrefs = regexp_extract_all(html, lit("(?i)href=[\"'](https?://[^\"']+)[\"']"), lit(1))
    get(filter(hrefs, u => is_ats_host(host_from_url(u))), lit(0))
  }
}
