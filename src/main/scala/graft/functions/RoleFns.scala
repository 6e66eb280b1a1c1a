package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Role-title cleanup (SURVEY.md §2.7 F11, F15).
  *
  * Semantics from `cleanRole_` (`apps-scripts/code-LLM-intergration.js:
  * 593-606`): strip tags → decode entities → de-emoji → remove company
  * echo at either end → strip trailing location → strip trailing req-IDs →
  * collapse whitespace.
  *
  * The company-echo step builds a regex from another column's value
  * (SURVEY.md §7.4 risk 1); Spark 4's column-pattern
  * `regexp_replace(Column, Column, Column)` keeps it in pure Catalyst —
  * the per-row pattern is regex-quoted with the same metachar escape set
  * the reference uses.
  */
object RoleFns {

  /** Regex-quote a column value for safe embedding in a dynamic pattern
    * (reference escape set `[.*+?^${}()|[\]\\]`, line 599). */
  def regex_quote(s: Column): Column =
    regexp_replace(s, "([.*+?^${}()|\\[\\]\\\\])", "\\\\$1")

  /** F11 `cleanRole_(title, company)`. Empty-safe: '' in → '' out.
    *
    * The company-echo regexes are dynamic (built from the company value),
    * which means a per-row Pattern.compile; a literal case-insensitive
    * `contains` pre-check swaps in the constant never-matching pattern
    * `(?!)` for the common case where the role carries no echo — exactly
    * the rows where the regex couldn't match anyway (the pattern embeds
    * the company as a quoted literal). `regexp_replace` recompiles only
    * when the pattern string changes, so runs of echo-free rows compile
    * nothing, and gating the pattern rather than the input keeps one
    * copy of the input tree per step instead of two. */
  def clean_role(title: Column, company: Column): Column = {
    val noTags = regexp_replace(coalesce(title, lit("")), "<[^>]*>", "")
    val decoded = HtmlFns.strip_emojis(HtmlFns.decode_html(noTags))
    val c = regex_quote(coalesce(company, lit("")))
    val mayEcho = coalesce(company, lit("")) =!= "" &&
      lower(decoded).contains(lower(company))
    def echo(pattern: Column): Column = when(mayEcho, pattern).otherwise(lit("(?!)"))
    // “Company — Role” prefix / “Role — Company” suffix (case-insensitive)
    val noPrefix = regexp_replace(decoded,
      echo(concat(lit("(?i)^\\s*"), c, lit("\\s*[-\\u2013\\u2014:]*\\s*"))), lit(""))
    val noSuffix = regexp_replace(noPrefix,
      echo(concat(lit("(?i)\\s*[-\\u2013\\u2014:]*\\s*"), c, lit("\\s*$"))), lit(""))
    // Trailing “- City, ST” location, then trailing req-ID / long digit runs.
    val noLoc = regexp_replace(noSuffix,
      "\\s*-\\s*[A-Z][a-z]+(?:,?\\s*[A-Z]{2})?$", "")
    val noReq = regexp_replace(noLoc,
      "(?i)\\s*[-\\u2013\\u2014]?\\s*((JR|Req|R|ID|Job)[\\s#:]*\\d+|\\d{5,})\\s*$", "")
    trim(regexp_replace(noReq, "\\s+", " "))
  }

  /** F15 title-split rescue predicate: role text looks like
    * `Company — Role` with a spaced dash (`code-LLM-intergration.js:730`). */
  def looks_like_company_dash_role(role: Column): Column =
    role.rlike(".+\\s[-\\u2013\\u2014]\\s.+")

  /** F15 split halves: company = first segment, role = rest re-joined with
    * " - " (reference `parts.slice(1).join(' - ')`, line 736). */
  def title_split_company(role: Column): Column =
    trim(element_at(split(role, "\\s[-\\u2013\\u2014]\\s"), 1))

  def title_split_role(role: Column): Column =
    trim(array_join(slice(split(role, "\\s[-\\u2013\\u2014]\\s"), 2, 1000), " - "))
}
