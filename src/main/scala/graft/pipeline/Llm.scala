package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.functions.HtmlFns
import graft.ops.Provenance

/** R4/R5 external-model operators (SURVEY.md §2.8; reference
  * `apps-scripts/code-LLM-intergration.js:629-676,1009-1052`).
  *
  * The model endpoint is injectable transport: a `LlmTransport` closure
  * shipped to executors (fixture-backed in tests; a real HTTP client in
  * live mode would batch per partition). Responses go through the same
  * guardrails as the reference: brace-slice JSON extraction (first '{' to
  * last '}'), fill-blanks-only merge, conf floor, provenance token.
  *
  * At 100 TB the design point is reference-faithful semantics with batch
  * inference shape: the transport call sits in one projection so an
  * `ai_query`-style vectorized backend can replace it without changing
  * the plan around it.
  */
object Llm {

  /** Injectable model transport: prompt → raw completion text (or None). */
  trait LlmTransport extends Serializable {
    def complete(prompt: String): Option[String]
  }

  /** Deterministic fixture transport for tests/demos: pure function of
    * the prompt. */
  case class FixtureTransport(f: String => Option[String]) extends LlmTransport {
    def complete(prompt: String): Option[String] = f(prompt)
  }

  /** Reference guardrail: slice the completion between the first '{' and
    * the last '}' before parsing (lines 1048-1049, 668-670). */
  def brace_slice(completion: Column): Column = {
    val t = trim(completion)
    val start = instr(t, "{")
    val end = length(t) - instr(reverse(t), "}") + 1
    when(start > 0 && end > start, substring(t, start, (end - start + 1).cast("int")))
      .otherwise(lit(null).cast("string"))
  }

  private val extractSchema = StructType(Seq(
    StructField("company", StringType), StructField("role", StringType)))

  private val notesSchema = StructType(Seq(
    StructField("invite", StringType), StructField("followup", StringType),
    StructField("meta", StringType)))

  /** R4 `llmExtractCompanyRole_`: rescue rows whose company is empty or
    * role is generic. Fill blanks only (manual/parsed values win), bump
    * conf to ≥ 0.6 on success, token `extract:{mode=llm}` (or with
    * `err=no-output` when the model returned nothing usable). */
  /** Call the transport, catching throwables at the call site the way
    * the reference catches its fetch/LLM errors (lines 915-917,
    * 1176-1178): a THROWING transport (network timeout, HTTP 5xx client
    * raising) must degrade per-row, never kill the stage. Returns
    * (completion, error) — exactly one side non-null on a needs-rescue
    * row. */
  private def guardedCall(transport: LlmTransport) =
    udf((p: String) =>
      try (transport.complete(p).orNull, null: String)
      catch { case e: Throwable =>
        (null: String, Option(e.getMessage).getOrElse(e.toString))
      }).asNondeterministic()

  def extractRescue(df: DataFrame, transport: LlmTransport,
                    promptCol: Column): DataFrame = {
    // nondeterministic pin: stops Catalyst from duplicating the transport
    // call when downstream projections reference _llm_res several times —
    // with a real endpoint a duplicated UDF means duplicate model calls.
    val callUdf = guardedCall(transport)
    val needs = col("company") === "" || HtmlFns.is_generic_title(col("role"))
    // the parsed completion is one named struct, read by field
    val parsed = col("_llm_parsed")
    val gotAny = parsed.isNotNull &&
      (coalesce(parsed.getField("company"), lit("")) =!= "" ||
       coalesce(parsed.getField("role"), lit("")) =!= "")
    val ok = col("_llm_ok")
    df.withColumns(ListMap(
        "_needs_rescue" -> needs,
        "_llm_res" -> when(needs, callUdf(promptCol))))
      .withColumns(ListMap(
        // V3 shape: the caller maps a non-empty llm_error to a row-level
        // error status, message pre-truncated to the reference's 300
        "llm_error" -> Provenance.error_message(col("_llm_res._2"), 300),
        "_llm_parsed" -> from_json(brace_slice(col("_llm_res._1")), extractSchema)))
      .withColumn("_llm_ok", col("_needs_rescue") && gotAny)
      .withColumns(ListMap(
        "company" -> when(ok && col("company") === "",
            coalesce(parsed.getField("company"), lit("")))
          .otherwise(col("company")),
        "conf" -> when(ok, greatest(col("conf"), lit(0.6))).otherwise(col("conf")),
        "extract_token" -> when(ok, lit("extract:{mode=llm}"))
          .when(col("_needs_rescue"), lit("extract:{mode=llm, err=no-output}"))))
      // the rescued role is cleaned against the rescued company
      .withColumn("role",
        when(ok && HtmlFns.is_generic_title(col("role")) &&
          coalesce(parsed.getField("role"), lit("")) =!= "",
          graft.functions.RoleFns.clean_role(parsed.getField("role"), col("company")))
        .otherwise(col("role")))
      .drop("_llm_res", "_llm_parsed", "_llm_ok", "_needs_rescue")
  }

  /** R5+R7 notes generation with template fallback: LLM first (when
    * enabled), else deterministic template; invite truncated to 280
    * (line 1181); provenance `notes:{mode=llm|template}`. */
  def notesWithFallback(df: DataFrame, transport: LlmTransport,
                        promptCol: Column, useLlm: Boolean = true): DataFrame = {
    // nondeterministic pin — same rationale as extractRescue's transport.
    val callUdf = guardedCall(transport)
    val parsed = col("_notes_parsed")
    val ok = col("_llm_ok")
    // reference lines 1176-1178: the LLM error is LOGGED (sliced to 300)
    // and the row still falls back to template — a transport throw must
    // not lose the note
    val (res, err) =
      if (useLlm) (callUdf(promptCol), Provenance.error_message(col("_notes_res._2"), 300))
      else (lit(null).cast("struct<_1:string,_2:string>"), lit(""))
    val mode = when(ok, lit("llm")).otherwise(lit("template"))
    df.withColumn("_notes_res", res)
      .withColumns(ListMap(
        "llm_error" -> err,
        "_notes_parsed" -> from_json(brace_slice(col("_notes_res._1")), notesSchema)))
      .withColumn("_llm_ok", parsed.isNotNull &&
        coalesce(parsed.getField("invite"), lit("")) =!= "" &&
        coalesce(parsed.getField("followup"), lit("")) =!= "")
      .withColumns(ListMap(
        "li_invite" -> substring(when(ok, parsed.getField("invite"))
          .otherwise(col("template_invite")), 1, 280),
        "li_followup" -> when(ok, parsed.getField("followup"))
          .otherwise(col("template_followup")),
        "notes_mode" -> mode,
        "source" -> Provenance.source_token_upsert(col("source"), "notes",
          Provenance.render_token("notes", Seq("mode" -> mode)))))
      .drop("_notes_res", "_notes_parsed", "_llm_ok")
  }
}
