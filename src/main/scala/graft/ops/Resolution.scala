package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.functions.{HtmlFns, JsonLdFns, RoleFns, UrlFns}

/** R1 `decideCompanyRole_` — priority-ordered multi-signal fusion
  * (SURVEY.md §2.8; reference `apps-scripts/code-LLM-intergration.js:
  * 692-777`).
  *
  * Signal ladder (weights are the reference's):
  *   jsonld-org +0.5 · jsonld-title +0.5 · ats-slug +0.35 · h1 +0.35 /
  *   og:title +0.25 / title +0.15 · og:site_name +0.25 (suppressed on
  *   aggregator hosts) · title-split rescue (conf = max(conf, 0.55)) ·
  *   clean → clamp (missing field caps conf at 0.5; final clamp [0,1]).
  *
  * Implemented as one layered `select` of when/coalesce columns — all
  * Catalyst expressions except the JSON-LD recursion UDF, so the whole
  * decision runs inside whole-stage codegen per row, embarrassingly
  * parallel at any scale. The LLM escalation arm (R4) is a separate
  * optional stage in [[LlmRescue]]; this core is fully deterministic.
  */
object Resolution {

  /** Appends decision columns: company, role, canonical, conf, decision.
    * Inputs: `html` page content, `finalUrl` post-redirect URL.
    *
    * The URL-derived signals (`_host`, `_is_agg`, `_ats_slug`, and the
    * canonical URL) depend only on `finalUrl`, so a second fusion pass
    * over re-fetched html (renderer escalation) recomputes them for
    * nothing. `keepUrlSignals = true` leaves them (plus `_canon`) in the
    * output for a follow-up pass; `reuseUrlSignals = true` consumes them
    * instead of recomputing — regex/codegen work on the escalation pass
    * drops to the html-derived signals only. */
  def decideCompanyRole(df: DataFrame, html: Column, finalUrl: Column,
                        keepUrlSignals: Boolean = false,
                        reuseUrlSignals: Boolean = false): DataFrame = {
    // Each step is one wide projection that reads the previous step's
    // values by name: a Column is an expression tree, so a value read
    // twice as a Column is planned (and run) twice, while a named value
    // is computed once and the optimizer keeps it apart.
    val host = UrlFns.host_from_url(finalUrl)
    val urlSignals =
      if (reuseUrlSignals) ListMap.empty[String, Column]
      else ListMap(
        "_host" -> host,
        "_is_agg" -> UrlFns.is_aggregator_host(host),
        "_ats_slug" -> UrlFns.guess_company_from_url(finalUrl),
        "_canon" -> UrlFns.canonical_url(finalUrl))
    val signals = df.withColumns(urlSignals ++ ListMap(
      "_jsonld" -> JsonLdFns.parse_jsonld_jobposting(html),
      "_og_site" -> HtmlFns.get_meta(html, "og:site_name", "property"),
      "_h1" -> HtmlFns.get_h1(html),
      "_og_title" -> HtmlFns.get_meta(html, "og:title", "property"),
      "_title" -> HtmlFns.get_title(html)))

    val jsonCompany = col("_jsonld.company")
    val jsonRole = col("_jsonld.role")
    // Company ladder: jsonld → ats-slug → og:site_name (non-aggregator).
    val c2 = when(jsonCompany =!= "", jsonCompany).otherwise(col("_ats_slug"))
    val siteOk = col("_og_site") =!= "" && !col("_is_agg")
    // Signal-presence predicates, shared by the confidence sum and the
    // decision trail.
    val ladder = signals.withColumns(ListMap(
      // Role ladder: jsonld → h1 → og:title → title.
      "_r1" -> when(jsonRole =!= "", jsonRole)
        .when(col("_h1") =!= "", col("_h1"))
        .when(col("_og_title") =!= "", col("_og_title"))
        .otherwise(col("_title")),
      "_c3" -> when(c2 =!= "", c2).when(siteOk, col("_og_site")).otherwise(lit("")),
      "_p_org" -> (jsonCompany =!= ""),
      "_p_jtitle" -> (jsonRole =!= ""),
      "_p_slug" -> (jsonCompany === "" && col("_ats_slug") =!= ""),
      "_p_h1" -> (jsonRole === "" && col("_h1") =!= ""),
      "_p_og" -> (jsonRole === "" && col("_h1") === "" && col("_og_title") =!= ""),
      "_p_title" -> (jsonRole === "" && col("_h1") === "" && col("_og_title") === "" &&
        col("_title") =!= ""),
      "_p_site" -> (c2 === "" && siteOk)))

    // Additive confidence in reference signal order, and the decision
    // trail: signal names in reference push-order, '+'-joined. Title-split
    // rescue only when still no company and the role has a spaced dash.
    val weights = Seq("_p_org" -> 0.5, "_p_jtitle" -> 0.5, "_p_slug" -> 0.35,
      "_p_h1" -> 0.35, "_p_og" -> 0.25, "_p_title" -> 0.15, "_p_site" -> 0.25)
    val titleSplit = col("_c3") === "" && col("_r1") =!= "" &&
      RoleFns.looks_like_company_dash_role(col("_r1"))
    val split = ladder.withColumns(ListMap(
      "_split" -> titleSplit,
      "_conf_raw" -> weights.map { case (p, w) =>
        when(col(p), lit(w)).otherwise(lit(0.0)) }.reduce(_ + _),
      "_trail" -> concat_ws("+",
        when(col("_p_org"), lit("jsonld-org")),
        when(col("_p_jtitle"), lit("jsonld-title")),
        when(col("_p_slug"), lit("ats-slug")),
        when(col("_p_h1"), lit("h1")),
        when(col("_p_og"), lit("og:title")),
        when(col("_p_title"), lit("title")),
        when(col("_p_site"), lit("og:site_name")),
        when(titleSplit, lit("title-split"))),
      "company" -> when(titleSplit, RoleFns.title_split_company(col("_r1")))
        .otherwise(col("_c3")),
      "_r2" -> when(titleSplit, RoleFns.title_split_role(col("_r1")))
        .otherwise(col("_r1"))))

    // `conf` first holds its raw value, so every output column keeps its
    // place; the clamp then rewrites it in place once `role` is cleaned.
    val picked = split.withColumns(ListMap(
      "role" -> RoleFns.clean_role(col("_r2"), col("company")),
      "canonical" -> col("_canon"),
      "conf" -> when(col("_split"), greatest(col("_conf_raw"), lit(0.55)))
        .otherwise(col("_conf_raw")),
      "decision" -> when(col("_trail") === "", lit("heuristic")).otherwise(col("_trail"))))
    // clamp: a missing field caps conf at 0.5, then [0, 1]
    val conf1 = when(col("company") === "", least(col("conf"), lit(0.5)))
      .otherwise(col("conf"))
    val conf2 = when(col("role") === "", least(conf1, lit(0.5))).otherwise(conf1)
    val decided = picked.withColumn("conf", greatest(least(conf2, lit(1.0)), lit(0.0)))

    val alwaysDrop = Seq(
      "_jsonld", "_og_site", "_h1", "_og_title", "_title", "_r1", "_c3",
      "_split", "_conf_raw", "_trail", "_r2") ++ weights.map(_._1)
    val urlCols = Seq("_host", "_is_agg", "_ats_slug", "_canon")
    decided.drop(
      (if (keepUrlSignals) alwaysDrop else alwaysDrop ++ urlCols): _*)
  }
}
