package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import graft.ops.{Provenance, Resolution}

/** §3.1 end-to-end parse stage: cascade fetch → signal fusion → renderer
  * escalation → keyed write-back with provenance.
  *
  * The reference's per-row sequential loop (12-row batches, 1 row/s
  * throttle) becomes three declarative passes over the whole batch; the
  * write-back mutation becomes a left join + column overwrite (SURVEY.md
  * §1.3) — the shape that scales to arbitrarily many rows.
  */
object ParsePipeline {

  /** R3 escalation (reference lines 897-906): rows that parsed at conf 0
    * from a non-renderer provider get one re-parse on the rendered html;
    * the better parse wins and the fetch token records the escalation.
    * One projection renames the first-pass columns and names the gate and
    * the re-parse input, one merges the two passes. */
  def withEscalation(decided: DataFrame): DataFrame = {
    val decisionCols = Seq("company", "role", "canonical", "conf", "decision")
    val needs = col("conf") === 0.0 && col("provider") =!= "renderer" &&
      coalesce(col("rendered_html"), lit("")) =!= ""
    val renamed = decided.select(decided.columns.toIndexedSeq.map { c =>
      if (decisionCols.contains(c)) col(c).as(c + "_1") else col(c)
    } ++ Seq(needs.as("_esc"),
      when(needs, col("rendered_html")).otherwise(lit("")).as("_esc_html")): _*)
    // URL-derived signals are identical in both passes — reuse them when
    // the first pass kept them instead of re-running the URL regexes
    val re = Resolution.decideCompanyRole(renamed, col("_esc_html"),
      col("final_url"), reuseUrlSignals = renamed.columns.contains("_canon"))
    val better = col("conf") > col("conf_1")
    re.withColumns(ListMap("escalated" -> (col("_esc") && better)) ++
        decisionCols.map(c => c -> when(better, col(c)).otherwise(col(c + "_1"))))
      .drop(decisionCols.map(_ + "_1") ++ Seq("_esc", "_esc_html",
        "_host", "_is_agg", "_ats_slug", "_canon"): _*)
  }

  /** Full parse stage over a links batch (columns: sheet_name, row_index,
    * url) against fetch fixtures. Returns parse results keyed for
    * write-back. */
  def parse(links: DataFrame, fixtures: DataFrame): DataFrame = {
    val fetched = FetchCascade(links, fixtures)
    val decided = Resolution.decideCompanyRole(fetched, col("html"),
      col("final_url"), keepUrlSignals = true)
    // upserting the parse token into an empty trail yields the token itself
    withEscalation(decided)
      .withColumn("parse_token",
        Provenance.parse_token(col("provider"), col("decision"), col("conf")))
      .withColumn("source_new",
        when(col("escalated"), Provenance.source_token_upsert(col("parse_token"),
          "fetch", lit("fetch:{escalated=renderer}")))
          .otherwise(col("parse_token")))
  }

  /** J3/S9 write-back: overwrite derived columns on matching tracker rows,
    * set Status, upsert provenance; untouched rows flow through. */
  def writeBack(tracker: DataFrame, results: DataFrame): DataFrame = {
    val r = results.select(
      col("sheet_name"), col("row_index"),
      col("canonical").as("_canonical"), col("company").as("_company"),
      col("role").as("_role"), col("source_new").as("_source"))
    tracker.join(r, Seq("sheet_name", "row_index"), "left_outer")
      .withColumn("canonical_link",
        when(col("_canonical").isNotNull, col("_canonical")).otherwise(col("canonical_link")))
      .withColumn("company_auto",
        when(col("_company").isNotNull, col("_company")).otherwise(col("company_auto")))
      .withColumn("role_auto",
        when(col("_role").isNotNull, col("_role")).otherwise(col("role_auto")))
      .withColumn("status",
        when(col("_source").isNotNull, lit("ok")).otherwise(col("status")))
      .withColumn("source", {
        // merge: upsert each freshly-written kind into the existing trail
        val withParse = Provenance.source_token_upsert(
          coalesce(col("source"), lit("")), "parse",
          regexp_extract(col("_source"), "parse:\\{[^}]*\\}", 0))
        val merged = when(col("_source").rlike("fetch:\\{[^}]*\\}"),
          Provenance.source_token_upsert(withParse, "fetch",
            regexp_extract(col("_source"), "fetch:\\{[^}]*\\}", 0)))
          .otherwise(withParse)
        when(col("_source").isNotNull, merged).otherwise(col("source"))
      })
      .drop("_canonical", "_company", "_role", "_source")
  }
}
