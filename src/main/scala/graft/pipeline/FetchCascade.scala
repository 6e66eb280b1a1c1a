package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel
import graft.functions.{HtmlFns, UrlFns}

/** R2 `fetchSmartFree_` — the cost-ordered access-path cascade
  * (SURVEY.md §2.8; reference `apps-scripts/code-LLM-intergration.js:
  * 432-480`), re-expressed as *data*: network surfaces become a fixtures
  * table joined in (SURVEY.md §7.0), and the per-row cascade becomes one
  * layered coalesce over pre-joined candidate columns — no loops, fully
  * planner-visible, and at scale a pair of broadcast/shuffle joins instead
  * of N sequential HTTP calls.
  *
  * Fixture schema (FIXTURES.md §B5): one row per fetchable url —
  * `url, direct_status, direct_html, rendered_html, api_role` where
  * `api_role` is non-null iff the ATS API would answer for that url.
  *
  * Cascade order (reference lines 440-479):
  *   1. ATS API (Greenhouse/Lever URL shapes + api fixture) → `gh-api` /
  *      `lever-api`, company from slug, canonical final url, empty html;
  *   2. direct fetch if status<400 and page has useful signal;
  *   3. renderer if its html has useful signal;
  *   4. aggregator-unwrap: first ATS href in (rendered||direct) html,
  *      re-run 1-3 against it, provider tagged `-unwrapped`;
  *   5. last resort: rendered, else direct.
  */
object FetchCascade {

  val GhUrlRe = "(?i)https?://(?:boards|job-boards)\\.greenhouse\\.io/([^/?#]+)/jobs/(\\d+)"
  val LeverUrlRe = "(?i)https?://jobs\\.lever\\.co/([^/?#]+)/([^/?#]+)"

  /** S5-S7 live-mode transport. The reference really does HTTP
    * (`code-LLM-intergration.js:339-346,398-414`; `cloud-renderer/
    * server.js:11-58`); the engine keeps the fixtures-JOIN design
    * (SURVEY.md §7.0), and a live deployment implements this client and
    * materializes the SAME fixture table from it via [[liveFixtures]] —
    * the cascade plan is identical in both modes. Mirrors
    * [[Llm.LlmTransport]]'s injectable-transport pattern: fixture-backed
    * in tests, an HTTP client (batched/rate-limited per partition) live. */
  trait FetchClient extends Serializable {
    /** Direct HTTP GET → (status, body); None on transport failure. */
    def direct(url: String): Option[(Int, String)]
    /** Headless-renderer fetch → rendered HTML when available. */
    def rendered(url: String): Option[String]
    /** ATS API probe → role title iff the API answers for this url. */
    def apiRole(url: String): Option[String]
  }

  /** Deterministic map-backed client for tests/demos. */
  case class FixtureClient(
      directs: Map[String, (Int, String)] = Map.empty,
      renders: Map[String, String] = Map.empty,
      apis: Map[String, String] = Map.empty) extends FetchClient {
    def direct(url: String): Option[(Int, String)] = directs.get(url)
    def rendered(url: String): Option[String] = renders.get(url)
    def apiRole(url: String): Option[String] = apis.get(url)
  }

  /** Materialize the fixture table for `links` by driving `client` once
    * per DISTINCT url — two waves, because the aggregator-unwrap level
    * probes ATS urls discovered inside wave-1 HTML. mapPartitions keeps
    * the client call imperative and per-partition (where a live client
    * batches and rate-limits); everything around it stays declarative. */
  def liveFixtures(links: DataFrame, client: FetchClient): DataFrame = {
    val spark = links.sparkSession
    import spark.implicits._
    // Per-url guard, reference lines 915-917: a client that THROWS
    // mid-wave (timeout, connection reset) yields an all-null fixture
    // row carrying `fetch_error` (message truncated to the reference's
    // 300) instead of killing the wave — the other urls' fixtures land
    // intact, the cascade degrades that one row to no-provider, and the
    // caller maps the error to a V3 row status. The cascade's own
    // fixtureSide projection drops the extra column.
    def fetchWave(urls: Dataset[String]): DataFrame =
      urls.mapPartitions { it =>
        it.map { u =>
          try {
            val d = client.direct(u)
            (u, d.map(_._1), d.map(_._2), client.rendered(u),
              client.apiRole(u), null: String)
          } catch { case e: Throwable =>
            (u, None: Option[Int], None: Option[String],
              None: Option[String], None: Option[String],
              Option(e.getMessage).getOrElse(e.toString))
          }
        }
      }.toDF("url", "direct_status", "direct_html", "rendered_html",
        "api_role", "fetch_error")
        .withColumn("fetch_error",
          graft.ops.Provenance.error_message(col("fetch_error"), 300))
    // wave 1 is read twice (the wave-2 targets and the union) and must
    // drive the client once per url: a lazy local checkpoint keeps its
    // rows for both reads and leaves no CacheManager entry behind
    // (ContextCleaner frees the blocks with the frame)
    val wave1 = fetchWave(links.select(col("url")).distinct().as[String])
      .localCheckpoint(eager = false)
    // wave 2: first ATS href inside aggregator pages, minus already-fetched
    val targets = wave1
      .filter(UrlFns.is_aggregator_host(UrlFns.host_from_url(col("url"))))
      .select(UrlFns.find_first_ats_link(concat(
        coalesce(col("rendered_html"), lit("")),
        coalesce(col("direct_html"), lit("")))).as("url"))
      .filter(col("url") =!= "")
      .distinct()
      .join(wave1.select("url"), Seq("url"), "left_anti")
    wave1.unionByName(fetchWave(targets.as[String]))
  }

  /** Run the cascade in live mode: fetch via `client`, then the standard
    * fixtures-join plan. */
  def live(links: DataFrame, client: FetchClient): DataFrame =
    apply(links, liveFixtures(links, client))

  /** S8 paid-scraper provider selection (reference `fetchRendered_`,
    * `apps-scripts/code-Extractor-withoutLLM.js:231-266`): strictly
    * first-CONFIGURED-wins — ScrapingBee if its key is set, else
    * scrape.do if its token is set, else a direct fetch. A configured
    * paid provider that answers ≥400 THROWS (`'Bee <status>: <body>'` /
    * `'Scrape.do <status>: <body>'`, body sliced to 300) rather than
    * falling through; the catch writes status `error` with the message
    * sliced to 200 (line 208). Direct never throws. Re-expressed as one
    * projection over per-row config/fixture columns: adds `provider`,
    * `fetch_status`, `status`, `last_error`. */
  def paidProviderFetch(df: DataFrame, beeConfigured: Column,
                        doConfigured: Column, beeStatus: Column,
                        doStatus: Column, directStatus: Column,
                        errorBody: Column): DataFrame = {
    val provider = when(beeConfigured, lit("scrapingbee"))
      .when(doConfigured, lit("scrape.do"))
      .otherwise(lit("direct"))
    val status = when(beeConfigured, beeStatus)
      .when(doConfigured, doStatus)
      .otherwise(directStatus)
    val ok = provider === "direct" || status < 400
    val thrown = when(provider === "scrapingbee",
        concat(lit("Bee "), status, lit(": "), substring(errorBody, 1, 300)))
      .otherwise(
        concat(lit("Scrape.do "), status, lit(": "), substring(errorBody, 1, 300)))
    df.withColumn("provider", provider)
      .withColumn("fetch_status", status)
      .withColumn("status", when(ok, lit("ok")).otherwise(lit("error")))
      .withColumn("last_error",
        when(ok, lit("")).otherwise(substring(thrown, 1, 200)))
  }

  /** Project the fixture side once, precomputing the useful-signal
    * predicates (each is ~8 regexes over the page) so the cascade's
    * when-ladder reads two booleans instead of re-deriving them per
    * branch — the regex work happens once per fixture row, pre-join. */
  private def fixtureSide(fixtures: DataFrame): DataFrame =
    fixtures.select(
      col("url"),
      col("direct_status"),
      col("direct_html"),
      col("rendered_html"),
      col("api_role"),
      HtmlFns.has_useful_signal(col("direct_html")).as("direct_useful"),
      HtmlFns.has_useful_signal(col("rendered_html")).as("rendered_useful"))

  /** Rename every fixture-side column with `prefix` so the direct and
    * unwrap joins of the SAME projected frame stay unambiguous. */
  private def prefixed(side: DataFrame, prefix: String): DataFrame =
    side.select(side.columns.map(c => col(c).as(s"$prefix$c")).toIndexedSeq: _*)

  /** One cascade level over joined fixture columns for `urlCol`; returns
    * a struct(provider, status, final_url, html, api_company, api_role)
    * or null-provider when nothing at this level answered. Every provider
    * name carries `tag` (the unwrap level's `-unwrapped`). */
  private def level(urlCol: Column, p: String, tag: String = ""): Column = {
    val ghSlug = regexp_extract(urlCol, GhUrlRe, 1)
    val leverSlug = regexp_extract(urlCol, LeverUrlRe, 1)
    val apiHit = col(s"${p}api_role").isNotNull
    val ghApi = apiHit && ghSlug =!= ""
    val leverApi = apiHit && leverSlug =!= ""
    val directOk = col(s"${p}direct_status").isNotNull &&
      col(s"${p}direct_status") < 400 && col(s"${p}direct_useful")
    val renderedOk = col(s"${p}rendered_useful")
    when(ghApi, struct(
      lit("gh-api" + tag).as("provider"), lit(200).as("status"),
      UrlFns.canonical_url(urlCol).as("final_url"), lit("").as("html"),
      UrlFns.nice_case(ghSlug).as("api_company"), col(s"${p}api_role").as("api_role")))
    .when(leverApi, struct(
      lit("lever-api" + tag).as("provider"), lit(200).as("status"),
      UrlFns.canonical_url(urlCol).as("final_url"), lit("").as("html"),
      UrlFns.nice_case(leverSlug).as("api_company"), col(s"${p}api_role").as("api_role")))
    .when(directOk, struct(
      lit("direct" + tag).as("provider"), col(s"${p}direct_status").as("status"),
      urlCol.as("final_url"), col(s"${p}direct_html").as("html"),
      lit(null).cast("string").as("api_company"), lit(null).cast("string").as("api_role")))
    .when(renderedOk, struct(
      lit("renderer" + tag).as("provider"), lit(200).as("status"),
      urlCol.as("final_url"), col(s"${p}rendered_html").as("html"),
      lit(null).cast("string").as("api_company"), lit(null).cast("string").as("api_role")))
    .otherwise(lit(null).cast(
      "struct<provider:string,status:int,final_url:string,html:string," +
      "api_company:string,api_role:string>"))
  }

  /** Run the cascade for `links` (column `url`). Two fixture joins: the
    * original url and the unwrapped ATS url. No broadcast hint: fixture
    * payloads carry page HTML, so AQE should pick broadcast only when the
    * fixture side is genuinely small (a forced broadcast of a large
    * fixture table costs more than the shuffle it avoids).
    *
    * The projected fixture side is computed ONCE and cached: both joins
    * read the same materialized rows, so the useful-signal regexes (the
    * dominant per-row cost) run once per fixture row instead of once per
    * join. The cache has no CacheManager entry, so it goes with the
    * frame instead of piling up one entry per trigger. At production
    * scale this is a checkpointed signal table written next to the
    * fixture store.
    *
    * Each level is one named column read back by name (`_lvl1`,
    * `_ats_url`, `fetched`): a level is a wide struct-valued tree, and
    * a Column read twice is planned twice. */
  def apply(links: DataFrame, fixtures: DataFrame): DataFrame = {
    val side = Bridge.cacheUnregistered(fixtureSide(fixtures), StorageLevel.MEMORY_AND_DISK)
    val isAgg = UrlFns.is_aggregator_host(UrlFns.host_from_url(col("url")))
    val atsLink = UrlFns.first_ats_link(
      concat(coalesce(col("f_rendered_html"), lit("")),
        coalesce(col("f_direct_html"), lit(""))))

    // Null-skew bypass on the unwrap join: `_ats_url` is null for every
    // row that doesn't need unwrapping — usually almost all of them — and
    // a hash exchange sends every null-keyed row to ONE partition, so the
    // join stage (and the heavy fusion projection that rides it) would
    // run effectively single-threaded at scale. Joining on a per-row
    // synthetic key for the null rows (a NUL-prefixed url) spreads them
    // uniformly while the left-outer still passes them through with
    // null unwrap columns. The extra `_ats_url IS NOT NULL` predicate
    // makes the bypass airtight rather than resting on "no fixture url
    // starts with the sentinel": Catalyst keeps the coalesced key as
    // the equi key (the exchange still spreads the null rows) and
    // applies the null guard as a post-match filter, so a pathological
    // sentinel-prefixed fixture url can never spuriously unwrap a
    // non-aggregator row.
    val withAts = links
      .join(prefixed(side, "f_"), links("url") === col("f_url"), "left_outer")
      .withColumn("_lvl1", level(col("url"), "f_"))
      .withColumn("_ats_url", when(col("_lvl1").isNull && isAgg, atsLink))
      .join(prefixed(side, "u_"),
        coalesce(col("_ats_url"), concat(lit("\u0000"), col("url"))) === col("u_url") &&
          col("_ats_url").isNotNull,
        "left_outer")

    // last resort: rendered else direct, from the original url's fixtures
    val lastResort = when(coalesce(col("f_rendered_html"), lit("")) =!= "", struct(
        lit("renderer").as("provider"), lit(200).as("status"),
        col("url").as("final_url"), col("f_rendered_html").as("html"),
        lit(null).cast("string").as("api_company"),
        lit(null).cast("string").as("api_role")))
      .when(col("f_direct_status").isNotNull, struct(
        lit("direct").as("provider"), col("f_direct_status").as("status"),
        col("url").as("final_url"),
        coalesce(col("f_direct_html"), lit("")).as("html"),
        lit(null).cast("string").as("api_company"),
        lit(null).cast("string").as("api_role")))
    val fetched = coalesce(col("_lvl1"),
      level(col("_ats_url"), "u_", tag = "-unwrapped"), lastResort)

    withAts
      .withColumn("fetched", fetched)
      .select(links.columns.toIndexedSeq.map(col) ++ Seq(
        col("fetched.provider").as("provider"),
        col("fetched.status").as("fetch_status"),
        col("fetched.final_url").as("final_url"),
        col("fetched.html").as("html"),
        col("fetched.api_company").as("api_company"),
        col("fetched.api_role").as("api_role"),
        col("f_rendered_html").as("rendered_html")): _*)
  }
}
