package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{ScalarOps, Scalars}
import graft.functions.ScalarOps.jsonString
import graft.sources.RumorSource

/** The reference's signature query pipeline, end-to-end, Spark-first
  * (SURVEY.md §2A ops 3-27, §3 E1): element-row scan → stateful date
  * fill-forward → item predicate → last-anchor source extraction →
  * sanitizing projection → per-page/per-tag caps → per-tag incremental
  * dedup → union → global sort (date desc, deterministic ties) →
  * order-sensitive first-wins dedup → skip-newest offset/limit window →
  * payload projection → JSON envelope + Presto-block HTML sinks.
  *
  * Order sensitivity (SURVEY §1.4): Spark relations are unordered, so
  * crawl encounter order is carried explicitly as
  * (subject_idx, page_no, doc_pos) and every dedup/sort pins ties on it
  * — never bare dropDuplicates. The page scan reads as one partition
  * (RumorSource.elementRows), which satisfies every per-tag window
  * (fill-forward, 80-per-page cap, per-tag dedup, 150-cap), the global
  * first-wins dedup on the 152-char key and the final top-n: a request
  * plans no exchange and runs one job.
  */
object RumorPipeline {

  /** Crawl records (ref fetchRumors.js:110-117) from element rows:
    * fill-forward the running date within each (subject, page), consume
    * the date-header rows, keep ≥15-char p/li items with a date, extract
    * the last-anchor source.
    */
  def crawlRecords(rows: DataFrame): DataFrame = {
    val pageOrder = Window.partitionBy(col("subject_idx"), col("page_no"))
      .orderBy(col("doc_pos").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows
      .withColumn("date",
        last(when(col("iso_date") =!= "", col("iso_date")), ignoreNulls = true)
          .over(pageOrder))
      // date-header rows are consumed (fetchRumors.js:97 `continue`)
      .filter(col("iso_date") === "")
      // item predicate (fetchRumors.js:99-101)
      .filter(col("tag").isin("p", "li") &&
        col("date").isNotNull && length(col("text")) >= 15)
      .select(
        col("slug"), col("subject_idx"), col("page_no"), col("doc_pos"),
        col("text").as("title"),
        col("para_html").as("snippet_html"),
        col("last_href").as("url"),
        // sourceName defaults to HoopsHype (fetchRumors.js:106)
        coalesce(nullif(col("last_text"), lit("")), lit("HoopsHype")).as("sourceName"),
        col("date"),
        col("last_text").as("lastAnchorText"))
  }

  /** Dedup key + per-page cap (80, fetchRumors.js:119) — the rows the
    * reference's parseTagPage returns per page (its
    * `dbg.parsedItemsOnPage` counts exactly these).
    */
  def pageCapped(records: DataFrame): DataFrame = {
    val keyed = records.withColumn("key",
      concat_ws("::", col("date"), substring(col("title"), 1, 120), col("url")))
    // windows key on subject_idx (the CRAWL), not the slug string: the
    // reference runs collectFromOneTag per subject, so duplicate
    // subjects crawl the same tag with independent caps/seen-sets —
    // identical under the normal 1:1 subject↔slug mapping
    val pageCap = Window.partitionBy(col("subject_idx"), col("page_no"))
      .orderBy(col("doc_pos").asc)
    keyed
      .withColumn("rn_page", row_number().over(pageCap))
      .filter(col("rn_page") <= 80)
  }

  /** Per-page cap + per-tag incremental first-seen-wins dedup
    * (fetchRumors.js:141-145) + the per-tag 150-item page cutoff
    * (fetchRumors.js:148: the page that crosses 150 is fully kept;
    * later pages are not crawled).
    */
  def perTagDedup(records: DataFrame): DataFrame =
    perTagDedupCapped(pageCapped(records))

  /** The dedup/cutoff stages over already page-capped records (split
    * from [[perTagDedup]] so the debug path can observe the
    * parsedItemsOnPage boundary).
    *
    * The 150-cap is a single range-frame window — the count of this
    * slug's deduped items on STRICTLY EARLIER pages (RANGE to
    * page_no−1), so the page that crosses 150 is fully kept
    * (fetchRumors.js:148). Deliberately NOT the per-page
    * group-count + rejoin formulation: that plants the source subtree
    * twice in the physical plan, and for a crawl source a double scan
    * means every page fetched twice (asserted once-per-page by
    * RumorPipelineSpec's counting corpus).
    */
  def perTagDedupCapped(capped: DataFrame): DataFrame = {
    val firstSeen = Window.partitionBy(col("subject_idx"), col("key"))
      .orderBy(col("page_no").asc, col("doc_pos").asc)
    val cumBefore = Window.partitionBy(col("subject_idx"))
      .orderBy(col("page_no").asc)
      .rangeBetween(Window.unboundedPreceding, -1)
    capped
      .withColumn("rn_key", row_number().over(firstSeen))
      .filter(col("rn_key") === 1)
      .withColumn("cum_before", count(lit(1)).over(cumBefore))
      .filter(col("cum_before") < 150)
      .drop("rn_page", "rn_key", "cum_before")
  }

  /** Order-sensitive first-wins dedup (fetchRumors.js:187-196), unsorted
    * (split out so the debug observe can sit below the presentation
    * sort — a downstream LIMIT only pulls limit+offset rows through
    * plan nodes ABOVE the sort barrier, which would undercount).
    */
  def globalDedup(merged: DataFrame): DataFrame = {
    val firstWins = Window.partitionBy(col("key"))
      .orderBy(col("subject_idx").asc, col("page_no").asc, col("doc_pos").asc)
    merged
      .withColumn("rn_global", row_number().over(firstWins))
      .filter(col("rn_global") === 1)
      .drop("rn_global")
  }

  /** Global-dedup sort order (date desc, crawl-order ties — SURVEY §1.4-3). */
  def globalSort(deduped: DataFrame): DataFrame =
    deduped.orderBy(col("date").desc, col("subject_idx").asc,
      col("page_no").asc, col("doc_pos").asc)

  /** Global sort + order-sensitive first-wins dedup. */
  def globalDedupSorted(merged: DataFrame): DataFrame =
    globalSort(globalDedup(merged))

  /** Skip newest, take next 8 (fetchRumors.js:199) + payload projection
    * (fetchRumors.js:202-209) via the native scalar expressions.
    */
  def payload(sortedDedup: DataFrame): DataFrame = {
    sortedDedup
      .offset(1).limit(8)
      .select(
        col("date"),
        Scalars.fmt_month_abbrev(col("date")).as("date_pretty"),
        col("snippet_html"),
        col("sourceName"),
        col("url").as("sourceUrl"),
        Scalars.ends_with_source(col("snippet_html"), col("url"), col("sourceName"))
          .as("suppressSource"))
  }

  /** Full pipeline: subjects string (comma-separated, ref
    * fetchRumors.js:179) → 8-row payload DataFrame. `corpusSpec` is
    * "dir:<path>" or "classpath:<prefix>" (see RumorPagesSource).
    */
  def run(spark: SparkSession, corpusSpec: String, q: String): DataFrame = {
    val subjects = q.split(",").map(ScalarOps.clean).filter(_.nonEmpty).toSeq
    val slugs = subjects.map(ScalarOps.slugify)
    if (slugs.isEmpty) {
      import spark.implicits._
      return payload(globalDedupSorted(perTagDedup(crawlRecords(
        spark.emptyDataset[RumorSource.ElementRow].toDF()))))
    }
    val rows = RumorSource.elementRows(spark, corpusSpec, slugs)
    payload(globalDedupSorted(perTagDedup(crawlRecords(rows))))
  }

  // ---------------------------------------------------------------
  // Observability + API boundary (ref §2A#31-34)
  // ---------------------------------------------------------------

  /** The full HTTP response envelope (ref fetchRumors.js:220-226
    * `json(code, body)`): status code + content-type header + body.
    */
  def handleHttp(spark: SparkSession, corpusSpec: String, q: String,
      debug: Boolean = false): (Int, Map[String, String], String) = {
    val body = handle(spark, corpusSpec, q, debug)
    val code =
      if (body == """{"error":"Missing q"}""") 400
      else if (body.startsWith("""{"error":""")) 500
      else 200
    (code, Map("Content-Type" -> "application/json"), body)
  }

  /** The handler boundary (ref fetchRumors.js:174-218): validates the
    * TRIMMED raw q (fetchRumors.js:175-177 — the envelope echoes qRaw,
    * not the whitespace-collapsed clean), runs the pipeline, renders the
    * JSON envelope, optionally with debug counters.
    *
    * Debug counters ride ONE job and reproduce the reference's
    * SEQUENTIAL crawl semantics exactly, even though the scan itself is
    * parallel: the reference stops a tag at the first fetch error OR
    * once its deduped items reach 150 — whichever comes first — so its
    * dbg counts only the pages actually fetched, and it records a
    * page{n}Error key only if the cap didn't stop the crawl before page
    * n (fetchRumors.js:133-148). Our DSv2 scan reads every existing
    * page (bounded by the 10-page cap; results are identical because
    * the 150-cap filter discards the rest), so the observes collect
    * PER-(slug,page) sums and the driver re-applies
    * the reference's stop rule when assembling the envelope: pages
    * fetched = up to the cap-crossing page if the tag crossed 150,
    * otherwise every existing page.
    */
  def handle(spark: SparkSession, corpusSpec: String, q: String,
      debug: Boolean = false): String = {
    val qRaw = if (q == null) "" else q.trim
    if (qRaw.isEmpty) return """{"error":"Missing q"}"""
    val subjects = qRaw.split(",").map(ScalarOps.clean).filter(_.nonEmpty).toSeq
    val slugs = subjects.map(ScalarOps.slugify)
    // the catch path renders ONLY crawl-independent context — the
    // reference's 500 dbg is whatever accumulated before the throw, and
    // issuing fresh network probes from an error handler could block on
    // the very origin that just failed
    def dbgBase: String =
      s""""subjects":[${subjects.map(jsonString).mkString(",")}],""" +
        s""""slugs":[${slugs.map(jsonString).mkString(",")}]"""
    try {
      if (!debug) return jsonEnvelope(qRaw, run(spark, corpusSpec, qRaw))
      import org.apache.spark.sql.Observation
      val oScan = Observation(); val oParsed = Observation()
      val oMerged = Observation(); val oDedup = Observation()
      // per-(subject,page) conditional sums: small (|slugs| × 10
      // columns), and they let the driver reconstruct the sequential
      // counters. Keyed on subject_idx, not the slug string — duplicate
      // subjects crawl the same tag twice (like the reference) and must
      // count separately
      def perPage(): Seq[org.apache.spark.sql.Column] =
        for (si <- slugs.indices; p <- 1 to RumorSource.MaxPages) yield
          sum(when(col("subject_idx") === si && col("page_no") === p, 1L)
            .otherwise(0L)).as(s"c_${si}_$p")
      val rows = RumorSource.elementRows(spark, corpusSpec, slugs)
        .observe(oScan, count(lit(1)).as("n"), perPage(): _*)
      val capped = pageCapped(crawlRecords(rows))
        .observe(oParsed, count(lit(1)).as("n"), perPage(): _*)
      val mergedObsCols = slugs.indices.flatMap { si =>
        Seq(sum(when(col("subject_idx") === si, 1L).otherwise(0L)).as(s"m_$si"),
          max(when(col("subject_idx") === si, col("page_no"))).as(s"mp_$si"))
      }
      val merged = perTagDedupCapped(capped)
        .observe(oMerged, count(lit(1)).as("n"), mergedObsCols: _*)
      val afterDedup = globalDedup(merged)
        .observe(oDedup, count(lit(1)).as("n"))
      val rows8 = payload(globalSort(afterDedup)).collect() // the ONE action
      val base = jsonEnvelopeRows(qRaw, rows8)
      // a node that never ran (no input partitions, or a stage AQE
      // replaced by an empty relation) leaves an empty observation
      def metric(o: Observation, k: String): Long = o.get.getOrElse(k, null) match {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      // page presence = max of two signals, each covering the other's
      // blind spot: the OBSERVED scan (last page with any scanned
      // element — authoritative for what was actually read, immune to
      // transient probe failures on a live origin) and an existence
      // PROBE (stat/HEAD — sees an existing page whose container parsed
      // to zero elements, which the observation cannot distinguish from
      // a missing page).
      val probedLast: Map[String, Int] =
        try {
          val provider = graft.sources.RumorPagesSource.providerFromSpec(corpusSpec)
          slugs.distinct.map { slug =>
            slug -> (1 to RumorSource.MaxPages)
              .takeWhile(p => provider.exists(slug, p)).size
          }.toMap
        } catch { case _: Exception => Map.empty.withDefaultValue(0) }
      val lastScanned = slugs.indices.map { si =>
        val observed = (RumorSource.MaxPages to 1 by -1)
          .find(p => metric(oScan, s"c_${si}_$p") > 0).getOrElse(0)
        math.max(observed, probedLast.getOrElse(slugs(si), 0))
      }
      // reference stop rule per slug: crossed the 150-cap after page
      // mp_i (the crossing page always contributes >=1 deduped item),
      // else fetched every existing page
      val fetchedThrough = slugs.indices.map { si =>
        val capCrossed = metric(oMerged, s"m_$si") >= 150
        if (capCrossed) metric(oMerged, s"mp_$si").toInt
        else lastScanned(si)
      }
      def seqSum(o: Observation): Long =
        slugs.indices.map { si =>
          (1 to fetchedThrough(si)).map(p => metric(o, s"c_${si}_$p")).sum
        }.sum
      val errs = slugs.indices.flatMap { si =>
        val slug = slugs(si)
        val m = lastScanned(si) + 1
        // error recorded only if the crawl actually reached the missing
        // page (cap didn't break first) — fetchRumors.js:133-148
        if (m <= RumorSource.MaxPages && metric(oMerged, s"m_$si") < 150)
          Some(s"page${m}Error_$slug" ->
            s"HTTP 404 for ${RumorSource.crawlUrl(slug, m)}")
        else None
      }
      // duplicate subjects produce the same key; the reference's dbg is
      // a JS object, so later assignments collapse — keep one
      val errsDeduped = errs.distinctBy(_._1)
      val dbgJson =
        s""""debug":{$dbgBase""" +
          errsDeduped.map { case (k, v) => s",${jsonString(k)}:${jsonString(v)}" }.mkString +
          s""","scannedNodes":${seqSum(oScan)},"parsedItemsOnPage":${seqSum(oParsed)},""" +
          s""""totalMerged":${metric(oMerged, "n")},"totalAfterDedup":${metric(oDedup, "n")},""" +
          s""""returning":${rows8.length}}"""
      base.dropRight(1) + "," + dbgJson + "}"
    } catch {
      case e: Exception => // 500 envelope includes debug (ref fetchRumors.js:216)
        s"""{"error":${jsonString(Option(e.getMessage).getOrElse("Unknown error"))},""" +
          s""""debug":{$dbgBase}}"""
    }
  }

  // ---------------------------------------------------------------
  // Sinks
  // ---------------------------------------------------------------

  /** JSON response envelope {subject, items[]} (fetchRumors.js:211-214,
    * 220-226), field order matching JSON.stringify of the reference's
    * payload objects.
    */
  def jsonEnvelope(subject: String, items: DataFrame): String =
    jsonEnvelopeRows(subject, items.collect())

  def jsonEnvelopeRows(subject: String,
      collected: Array[org.apache.spark.sql.Row]): String = {
    val rows = collected.map { r =>
      s"""{"date":${jsonString(r.getAs[String]("date"))},""" +
        s""""date_pretty":${jsonString(r.getAs[String]("date_pretty"))},""" +
        s""""snippet_html":${jsonString(r.getAs[String]("snippet_html"))},""" +
        s""""sourceName":${jsonString(r.getAs[String]("sourceName"))},""" +
        s""""sourceUrl":${jsonString(r.getAs[String]("sourceUrl"))},""" +
        s""""suppressSource":${r.getAs[Boolean]("suppressSource")}}"""
    }
    s"""{"subject":${jsonString(subject)},"items":[${rows.mkString(",")}]}"""
  }

  /** Footer renderer (ref index.html:52-61). */
  def footerHtml(datePretty: String, sourceName: String, sourceUrl: String,
      suppressSource: Boolean): String = {
    val date = ScalarOps.htmlEscape(datePretty)
    if (suppressSource) s""" <span class="footer">| $date</span>"""
    else {
      val name = if (sourceName.isEmpty) "Source" else sourceName
      val src =
        if (sourceUrl.nonEmpty)
          s"""<a href="$sourceUrl" target="_blank" rel="noopener">${ScalarOps.htmlEscape(name)}</a>"""
        else ScalarOps.htmlEscape(name)
      s""" <span class="footer">$src | $date</span>"""
    }
  }

  /** Presto block sink (ref index.html:63-80) — byte-identical to the
    * reference's template literals including indentation.
    */
  def prestoBlock(subject: String, items: DataFrame): String = {
    val paras = items.collect().map { r =>
      val body = r.getAs[String]("snippet_html")
      val footer = footerHtml(r.getAs[String]("date_pretty"),
        r.getAs[String]("sourceName"), r.getAs[String]("sourceUrl"),
        r.getAs[Boolean]("suppressSource"))
      "<p class=\"hh-item\" style=\"border-left:4px solid #e31d1a;padding-left:12px;margin:10px 0;font-size:15px;line-height:1.35;\">\n        " +
        body + footer + "\n      </p>"
    }.mkString("\n")
    val heading = s"More on ${ScalarOps.htmlEscape(subject)}"
    "<div class=\"hh-block\">\n  <h2 style=\"font-family:Georgia,'Times New Roman',Times,serif;font-weight:700;font-size:20px;line-height:1.2;margin:0 0 10px;\">" +
      heading + "</h2>\n  " + paras + "\n</div>"
  }

  // ---------------------------------------------------------------

  /** Bundled-fixture corpus spec (src/main/resources/rumor_corpus). */
  val BundledCorpus = "classpath:/rumor_corpus"

  val DefaultSubjects = "Jalen Brunson, New York Knicks"

  /** q60: the flagship reference query over the bundled frozen corpus
    * (input is HTML, not parquet → rows-only driver check; golden tests
    * pin exact values; q61 is the oracle-checked parquet twin).
    */
  val q60RumorPipeline: (SparkSession, String) => DataFrame = (s, _) =>
    run(s, BundledCorpus, DefaultSubjects)

  /** The frozen element-row scan of the bundled corpus, dumped once to
    * parquet (graft.FixtureDump) so the full relational pipeline is
    * DuckDB-reproducible. Resolved relative to the repo root (override
    * with -Dgraft.fixtures.dir= or GRAFT_FIXTURES_DIR for checkouts
    * whose working directory isn't the repo root); the absolute path is
    * interpolated into the q61 oracle SQL, so Spark and DuckDB always
    * read the same file.
    */
  val ElementRowsFixture: String =
    sys.props.get("graft.fixtures.dir")
      .orElse(sys.env.get("GRAFT_FIXTURES_DIR"))
      .getOrElse(new java.io.File("fixtures").getAbsolutePath)
      .stripSuffix("/") + "/element_rows.parquet"

  /** q61: parquet twin of q60 — identical relational pipeline
    * (fill-forward → item predicate → caps → per-tag dedup → global
    * first-wins dedup → sort → skip-newest offset/limit → payload with
    * the custom scalars), but reading the frozen element-row parquet so
    * the driver's DuckDB oracle verifies every stage end-to-end.
    */
  val q61RumorRelational: (SparkSession, String) => DataFrame = (s, _) =>
    payload(globalDedupSorted(perTagDedup(crawlRecords(
      s.read.parquet(ElementRowsFixture)))))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q60_rumor_pipeline" -> q60RumorPipeline,
    "q61_rumor_relational" -> q61RumorRelational)

  /** SQL reproduction of fmt_month_abbrev over a strict ISO string (same
    * month-array trick as q25's oracle).
    */
  // single line: this gets interpolated into a stripMargin string, where
  // a continuation line starting with "||" would lose its first pipe
  private val prettySql =
    """['Jan.','Feb.','Mar.','Apr.','May','Jun.','Jul.','Aug.','Sep.','Oct.','Nov.','Dec.'][CAST(substr("date",6,2) AS INT)] || ' ' || CAST(CAST(substr("date",9,2) AS INT) AS VARCHAR) || ', ' || substr("date",1,4)"""

  /** SQL reproduction of ends_with_source (ScalarOps.endsWithSource):
    * trailing-anchor regex, trailing-slash-insensitive href compare OR
    * case-insensitive cleaned-label == sourceName.
    */
  private val anchorRe = """<a[^>]*href="([^"]+)"[^>]*>([^<]+)</a>\s*$"""
  private val suppressSql =
    s"""(CASE
       |   WHEN url = '' THEN FALSE
       |   WHEN regexp_extract(trim(snippet_html), '$anchorRe', 1, 'i') = '' THEN FALSE
       |   ELSE regexp_replace(regexp_extract(trim(snippet_html), '$anchorRe', 1, 'i'), '/+$$', '')
       |          = regexp_replace(url, '/+$$', '')
       |     OR lower(trim(regexp_replace(regexp_extract(trim(snippet_html), '$anchorRe', 2, 'i'), '\\s+', ' ', 'g')))
       |          = lower("sourceName")
       | END)""".stripMargin

  /** DuckDB oracle for q61: the whole pipeline in SQL over the same
    * parquet (fill-forward last_value IGNORE NULLS, row_number dedups,
    * windowed 150-cap, LIMIT 8 OFFSET 1, scalar reproductions).
    */
  val oracles: Map[String, String] = Map(
    "q61_rumor_relational" ->
      s"""WITH src AS (
         |  SELECT * FROM read_parquet('$ElementRowsFixture')
         |), dated AS (
         |  SELECT *,
         |    last_value(CASE WHEN iso_date <> '' THEN iso_date END IGNORE NULLS)
         |      OVER (PARTITION BY slug, page_no ORDER BY doc_pos ASC
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS "date"
         |  FROM src
         |), records AS (
         |  SELECT slug, subject_idx, page_no, doc_pos,
         |    text AS title, para_html AS snippet_html, last_href AS url,
         |    coalesce(nullif(last_text, ''), 'HoopsHype') AS "sourceName", "date"
         |  FROM dated
         |  WHERE iso_date = '' AND tag IN ('p','li')
         |    AND "date" IS NOT NULL AND length(text) >= 15
         |), keyed AS (
         |  SELECT *, concat_ws('::', "date", substr(title, 1, 120), url) AS key
         |  FROM records
         |), paged AS (
         |  SELECT * FROM keyed
         |  QUALIFY row_number() OVER (PARTITION BY slug, page_no ORDER BY doc_pos ASC) <= 80
         |), dedup1 AS (
         |  SELECT * FROM paged
         |  QUALIFY row_number() OVER (PARTITION BY slug, key ORDER BY page_no ASC, doc_pos ASC) = 1
         |), kept_pages AS (
         |  SELECT slug, page_no FROM (
         |    SELECT slug, page_no,
         |      coalesce(sum(page_items) OVER (PARTITION BY slug ORDER BY page_no ASC
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |    FROM (SELECT slug, page_no, count(*) AS page_items
         |          FROM dedup1 GROUP BY slug, page_no))
         |  WHERE cum_before < 150
         |), capped AS (
         |  SELECT d.* FROM dedup1 d
         |  JOIN kept_pages k ON d.slug = k.slug AND d.page_no = k.page_no
         |), global_dedup AS (
         |  SELECT * FROM capped
         |  QUALIFY row_number() OVER (PARTITION BY key
         |    ORDER BY subject_idx ASC, page_no ASC, doc_pos ASC) = 1
         |)
         |SELECT "date", $prettySql AS date_pretty, snippet_html,
         |  "sourceName", url AS "sourceUrl", $suppressSql AS "suppressSource"
         |FROM global_dedup
         |ORDER BY "date" DESC, subject_idx ASC, page_no ASC, doc_pos ASC
         |LIMIT 8 OFFSET 1""".stripMargin)
}
