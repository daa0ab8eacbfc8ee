package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ResultQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.RumorPipeline
import graft.sources.{HtmlDom, RumorPagePartition, RumorPagesScan, RumorPagesSource, RumorSource}

/** Reference-semantics golden tests (SURVEY.md §5 item 3): the frozen
  * corpus through the full pipeline, each assertion pinned to a cited
  * behavior in /root/reference.
  */
class RumorPipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session(master = "local[4]")

  private lazy val result =
    RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      RumorPipeline.DefaultSubjects).collect()

  test("returns exactly 8 rows (slice(1,9), fetchRumors.js:199)") {
    assert(result.length == 8)
  }

  test("the globally newest item was skipped (index 0 dropped)") {
    // newest = Oct 16 MSG recap; first returned row is the second Oct 16 item
    assert(result.head.getAs[String]("date") == "2025-10-16")
    assert(!result.exists(_.getAs[String]("sourceUrl") == "https://www.msg.com/recap"))
  }

  test("dates are descending with crawl-order ties (SURVEY §1.4)") {
    val dates = result.map(_.getAs[String]("date")).toSeq
    assert(dates == dates.sorted.reverse)
    assert(dates == Seq("2025-10-16", "2025-10-15", "2025-10-15", "2025-10-15",
      "2025-10-15", "2025-10-15", "2025-10-14", "2025-10-14"))
  }

  test("cross-tag duplicate removed exactly once (fetchRumors.js:189-196)") {
    val trades = result.filter(
      _.getAs[String]("sourceUrl") == "https://www.nypost.com/brunson-trade/")
    assert(trades.length == 1)
  }

  test("date_pretty uses the reference month table (fetchRumors.js:157)") {
    assert(result.head.getAs[String]("date_pretty") == "Oct. 16, 2025")
  }

  test("no-anchor items default sourceName=HoopsHype, url empty (fetchRumors.js:105-106)") {
    val noAnchor = result.filter(_.getAs[String]("sourceUrl") == "")
    assert(noAnchor.length == 3)
    assert(noAnchor.forall(_.getAs[String]("sourceName") == "HoopsHype"))
  }

  test("<15-char items are dropped (fetchRumors.js:101)") {
    assert(!result.exists(_.getAs[String]("snippet_html").contains("Short one")))
  }

  test("paragraphHTML flattens non-anchor markup, keeps sanitized anchors (fetchRumors.js:59-73)") {
    val trade = result.find(
      _.getAs[String]("sourceUrl") == "https://www.nypost.com/brunson-trade/").get
    val snippet = trade.getAs[String]("snippet_html")
    assert(!snippet.contains("<b>") && !snippet.contains("<i>"))
    assert(snippet.contains("League sources confirm talks are ongoing."))
    assert(snippet.contains(
      """<a href="https://www.nypost.com/brunson-trade/" target="_blank">NY Post</a>"""))
    assert(snippet.endsWith("has the details."))
  }

  test("suppressSource by trailing anchor href; false when text follows (fetchRumors.js:162-172)") {
    def flag(url: String): Boolean = result.find(
      _.getAs[String]("sourceUrl") == url).get.getAs[Boolean]("suppressSource")
    assert(flag("https://www.espn.com/nba/story1")) // ends with the anchor
    assert(!flag("https://www.nypost.com/brunson-trade/")) // text after anchor
    assert(flag("https://hoopshype.com/rumor/brunson-scout/")) // trailing-/ normalization
    assert(!flag("https://www.sny.tv/knicks-practice")) // text after anchor
  }

  test("JSON envelope matches reference field order (fetchRumors.js:202-226)") {
    val df = RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      RumorPipeline.DefaultSubjects)
    val json = RumorPipeline.jsonEnvelope(RumorPipeline.DefaultSubjects, df)
    assert(json.startsWith("""{"subject":"Jalen Brunson, New York Knicks","items":[{"date":"2025-10-16","date_pretty":"Oct. 16, 2025","snippet_html":"The front office"""))
    assert(json.contains(""""suppressSource":true"""))
    assert(json.endsWith("]}"))
  }

  test("Presto block sink matches reference template (index.html:63-80)") {
    val df = RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      RumorPipeline.DefaultSubjects)
    val block = RumorPipeline.prestoBlock(RumorPipeline.DefaultSubjects, df)
    assert(block.startsWith("""<div class="hh-block">
  <h2 style="font-family:Georgia,'Times New Roman',Times,serif;font-weight:700;font-size:20px;line-height:1.2;margin:0 0 10px;">More on Jalen Brunson, New York Knicks</h2>"""))
    assert(block.count(_ == '\n') >= 8)
    assert(block.split("<p class=\"hh-item\"").length == 9) // 8 items
    assert(block.contains(""" <span class="footer">| Oct. 15, 2025</span>""")) // suppressed footer
    assert(block.contains(
      """<a href="https://www.sny.tv/knicks-practice" target="_blank" rel="noopener">SNY</a> | Oct. 14, 2025"""))
    assert(block.endsWith("</div>"))
  }

  // ---- edge cases over a generated directory corpus ----

  private def writeCorpus(pages: Map[(String, Int), String]): Path = {
    val dir = Files.createTempDirectory("rumor_corpus_test")
    pages.foreach { case ((slug, page), html) =>
      val d = dir.resolve(slug)
      Files.createDirectories(d)
      Files.writeString(d.resolve(s"page$page.html"), html)
    }
    dir
  }

  private def page(items: String): String =
    s"<html><body><main>$items</main></body></html>"

  test("item before any date header is dropped (fetchRumors.js:100)") {
    val dir = writeCorpus(Map(("team", 1) -> page(
      """<p>This item appears before any date header exists on the page.</p>
        |<h3>March 3, 2024</h3>
        |<p>This one appears after the header and must be kept here.</p>""".stripMargin)))
    val rows = RumorPipeline.run(spark, s"dir:$dir", "Team")
    // pipeline output after slice(1,9): 2 items -> dedup 2 -> skip newest -> 1
    // but both share the date; tie order = doc order; item 1 dropped as "newest"
    val all = RumorPipeline.globalDedupSorted(RumorPipeline.perTagDedup(
      RumorPipeline.crawlRecords(RumorSource.elementRows(
        spark, s"dir:$dir", Seq("team"))))).collect()
    assert(all.length == 1)
    assert(all.head.getAs[String]("title").startsWith("This one appears after"))
  }

  test("per-page cap keeps exactly 80 items (fetchRumors.js:119)") {
    val items = (1 to 85).map(i =>
      s"<p>Generated rumor item number $i with enough length to pass the filter.</p>")
      .mkString("\n")
    val dir = writeCorpus(Map(("team", 1) -> page(s"<h3>March 3, 2024</h3>\n$items")))
    val n = RumorPipeline.perTagDedup(RumorPipeline.crawlRecords(
      RumorSource.elementRows(spark, s"dir:$dir", Seq("team")))).count()
    assert(n == 80)
  }

  test("per-tag 150 cap: crossing page kept, later pages dropped (fetchRumors.js:148)") {
    def pageN(p: Int): String = page(s"<h3>March $p, 2024</h3>\n" +
      (1 to 60).map(i =>
        s"<p>Page $p generated rumor item number $i with plenty of length.</p>").mkString("\n"))
    val dir = writeCorpus((1 to 4).map(p => ("team", p) -> pageN(p)).toMap)
    val n = RumorPipeline.perTagDedup(RumorPipeline.crawlRecords(
      RumorSource.elementRows(spark, s"dir:$dir", Seq("team")))).count()
    assert(n == 180) // pages 1-3 kept (cum before page4 = 180 >= 150)
  }

  test("missing page stops pagination, earlier pages kept (fetchRumors.js:133-137)") {
    val dir = writeCorpus(Map(
      ("team", 1) -> page("<h3>March 3, 2024</h3><p>Item from the first page, long enough.</p>"),
      ("team", 3) -> page("<h3>March 4, 2024</h3><p>Item from the third page, long enough.</p>")))
    val all = RumorPipeline.perTagDedup(RumorPipeline.crawlRecords(
      RumorSource.elementRows(spark, s"dir:$dir", Seq("team")))).collect()
    assert(all.length == 1)
    assert(all.head.getAs[String]("title").contains("first page"))
  }

  test("empty and single-item results through slice(1,9) (fetchRumors.js:199)") {
    val dir = writeCorpus(Map(("team", 1) -> page(
      "<h3>March 3, 2024</h3><p>The only rumor item present on this page.</p>")))
    val one = RumorPipeline.run(spark, s"dir:$dir", "Team")
    assert(one.count() == 0) // n<=1 -> empty after skipping newest
    val none = RumorPipeline.run(spark, s"dir:$dir", "Nonexistent Team")
    assert(none.count() == 0)
  }

  test("handle(): validation, debug counters via df.observe (fetchRumors.js:174-218)") {
    assert(RumorPipeline.handle(spark, RumorPipeline.BundledCorpus, "  ") ==
      """{"error":"Missing q"}""")
    val dbg = RumorPipeline.handle(spark, RumorPipeline.BundledCorpus,
      RumorPipeline.DefaultSubjects, debug = true)
    assert(dbg.contains(""""debug":{"subjects":["Jalen Brunson","New York Knicks"]"""))
    assert(dbg.contains(""""slugs":["jalen_brunson","new_york_knicks"]"""))
    assert(dbg.contains(""""returning":8"""))
    // 13 parsed -> 12 after per-tag dedup -> 11 after global cross-tag dedup
    // (parsedItemsOnPage is the reference's key name, fetchRumors.js:122)
    assert(dbg.contains(""""parsedItemsOnPage":13"""))
    assert(dbg.contains(""""totalMerged":12"""))
    assert(dbg.contains(""""totalAfterDedup":11"""))
    val scanned = """"scannedNodes":(\d+)""".r.findFirstMatchIn(dbg).get.group(1).toInt
    assert(scanned > 20) // every element of all 3 pages was walked
    // page-error keys (fetchRumors.js:136): first missing page per slug,
    // message shaped like fetchText's error (fetchRumors.js:54)
    assert(dbg.contains(
      """"page3Error_jalen_brunson":"HTTP 404 for http://preview.hoopshype.com/rumors/tag/jalen_brunson/page/3/""""))
    assert(dbg.contains(
      """"page2Error_new_york_knicks":"HTTP 404 for http://preview.hoopshype.com/rumors/tag/new_york_knicks/page/2/""""))
  }

  test("debug counters honor the reference's sequential stop rule at the 150-cap") {
    // 4 pages x 60 unique items: cap crossed after page 3 (60+60+60=180
    // >= 150) -> reference never fetches page 4 and, with page 5
    // missing, records NO page error (fetchRumors.js:133-148)
    def capPage(pageNo: Int): String = page(
      "<h3>March 3, 2024</h3>" + (1 to 60).map { i =>
        s"<p>Cap-test rumor item number ${(pageNo - 1) * 60 + i} with text.</p>"
      }.mkString)
    val dir = writeCorpus((1 to 4).map(p => ("team", p) -> capPage(p)).toMap)
    val dbg = RumorPipeline.handle(spark, s"dir:$dir", "Team", debug = true)
    // pages 1-3 only: 3 date headers + 180 items scanned, 180 parsed
    assert(dbg.contains(""""scannedNodes":183"""), dbg)
    assert(dbg.contains(""""parsedItemsOnPage":180"""), dbg)
    assert(dbg.contains(""""totalMerged":180"""), dbg)
    assert(!dbg.contains("page5Error"), "cap-stopped crawl must not report a page error")
  }

  test("duplicate subjects crawl independently, global dedup collapses them") {
    // reference: collectFromOneTag runs once per SUBJECT with its own
    // seen-set; the global first-wins dedup then removes cross-crawl
    // copies — the result equals a single-subject crawl
    val one = RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      "Jalen Brunson").collect().map(_.toString)
    val dup = RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      "Jalen Brunson, Jalen Brunson").collect().map(_.toString)
    assert(dup.toSeq == one.toSeq)
  }

  test("existing-but-empty trailing page: no fabricated error, real 404 reported") {
    // page 2 exists but its container has zero elements — the reference
    // fetches it without error and the real failure is page 3
    val dir = writeCorpus(Map(
      ("team", 1) -> page("<h3>March 3, 2024</h3><p>The only real rumor item on page one.</p>"),
      ("team", 2) -> page("")))
    val dbg = RumorPipeline.handle(spark, s"dir:$dir", "Team", debug = true)
    assert(!dbg.contains("page2Error"), s"fabricated error for an existing page: $dbg")
    assert(dbg.contains(""""page3Error_team":"HTTP 404"""), dbg)
  }

  test("handle() echoes the trimmed RAW q as subject (fetchRumors.js:175,211)") {
    val out = RumorPipeline.handle(spark, RumorPipeline.BundledCorpus,
      "  Jalen  Brunson ")
    // internal whitespace preserved in the echo; cleaned only for slugs
    assert(out.startsWith("""{"subject":"Jalen  Brunson","""))
  }

  test("handle(debug=true) runs ONE job — each page fetched once") {
    CountingCorpus.reset()
    RumorPagesSource.registerScheme("counting", p => new CountingCorpus(p))
    val spec = "counting:" + RumorPipeline.BundledCorpus.stripPrefix("classpath:")
    val dbg = RumorPipeline.handle(spark, spec, RumorPipeline.DefaultSubjects,
      debug = true)
    assert(dbg.contains(""""returning":8"""))
    // 3 pages, one body read each (previously the debug path re-ran the
    // pipeline per counter: 5 crawls = 15 fetches)
    assert(CountingCorpus.fetches.get() == 3,
      s"debug envelope cost ${CountingCorpus.fetches.get()} fetches for 3 pages")
  }

  test("debug envelope for a subject with no pages is a 200 with empty items") {
    val (code, _, body) = RumorPipeline.handleHttp(spark,
      RumorPipeline.BundledCorpus, "Nobody Atall", debug = true)
    assert(code == 200, body)
    assert(body.contains(""""items":[]"""), body)
    assert(body.contains(""""page1Error_nobody_atall":"HTTP 404"""), body)
    assert(body.contains(""""scannedNodes":0"""), body)
  }

  test("debug envelope for pages whose items all lack a date is a 200") {
    val dir = writeCorpus(Map(("team", 1) -> page(
      "<p>An undated rumor item with no header above it.</p>" +
        "<p>Another undated rumor item, also without a date.</p>")))
    val (code, _, body) = RumorPipeline.handleHttp(spark, s"dir:$dir", "Team",
      debug = true)
    assert(code == 200, body)
    assert(body.contains(""""items":[]"""), body)
    val scanned = """"scannedNodes":(\d+)""".r.findFirstMatchIn(body).get.group(1).toInt
    assert(scanned > 0, body)
  }

  test("JSON strings escape like JSON.stringify: short escapes and lone surrogates") {
    val emoji = new String(Character.toChars(0x1F600))
    val subject = "a\bb\fc" + 0xd800.toChar + "d" + 0xdc00.toChar + "e" + emoji
    val bs = "\\"
    assert(RumorPipeline.jsonEnvelopeRows(subject, Array.empty) ==
      s"""{"subject":"a${bs}bb${bs}fc${bs}ud800d${bs}udc00e$emoji","items":[]}""")
  }

  test("a duplicate-subject request plans no exchange and runs one job") {
    // the one-partition scan satisfies every window and the final top-n
    val df = RumorPipeline.run(spark, RumorPipeline.BundledCorpus,
      RumorPipeline.DefaultSubjects + ", Nobody Atall, Jalen Brunson")
    val aqe = df.queryExecution.executedPlan.asInstanceOf[AdaptiveSparkPlanExec]
    assert(aqe.executedPlan.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      aqe.executedPlan.toString) // the initial plan
    assert(df.collect().length == 8)
    // the final plan's one query stage is the result stage: no map stage
    // ran before it
    assert(aqe.executedPlan.collect { case q: QueryStageExec => q }
      .map(_.getClass) == Seq(classOf[ResultQueryStageExec]), aqe.executedPlan.toString)
  }

  test("500 envelope carries debug context (fetchRumors.js:216)") {
    // an unregistered corpus scheme throws inside the pipeline
    val out = RumorPipeline.handle(spark, "bogus:/nowhere", "Some Team")
    assert(out.startsWith("""{"error":"""))
    assert(out.contains(""""debug":{"subjects":["Some Team"],"slugs":["some_team"]"""))
  }

  test("DSv2 source: one input partition per (slug, page); limit pushdown") {
    // the scan plans one partition per page (2 jb pages + 1 knicks
    // page), in crawl order; elementRows reads them as one partition
    val scan = new RumorPagesScan(RumorPipeline.BundledCorpus,
      "jalen_brunson,new_york_knicks", RumorSource.MaxPages, Int.MaxValue)
    assert(scan.planInputPartitions().toSeq == Seq(
      RumorPagePartition("jalen_brunson", 0, 1),
      RumorPagePartition("jalen_brunson", 0, 2),
      RumorPagePartition("new_york_knicks", 1, 1)))
    assert(RumorSource.elementRows(spark, RumorPipeline.BundledCorpus,
      Seq("jalen_brunson", "new_york_knicks")).rdd.getNumPartitions == 1)
    // the coalesce above the scan blocks limit pushdown, so check it on
    // the raw read
    val lim = spark.read.format("graft.sources.RumorPagesSource")
      .option("corpus", RumorPipeline.BundledCorpus)
      .option("slugs", "jalen_brunson,new_york_knicks")
      .load().limit(5)
    assert(lim.queryExecution.executedPlan.toString.contains("pushedLimit=5"))
    assert(lim.count() == 5)
  }

  test("DSv2 source: exactly ONE body fetch per page end-to-end (plan probes are stat-only)") {
    CountingCorpus.reset()
    RumorPagesSource.registerScheme("counting",
      prefix => new CountingCorpus(prefix))
    val prefix = RumorPipeline.BundledCorpus.stripPrefix("classpath:")
    val df = spark.read.format("graft.sources.RumorPagesSource")
      .option("corpus", s"counting:$prefix")
      .option("slugs", "jalen_brunson,new_york_knicks")
      .option("maxPages", "10").load()
    assert(df.count() > 0)
    // 3 existing pages fetched once each in readers; planning probed
    // existence only, once per scan: jb pages 1-3 (3 missing) and
    // knicks pages 1-2 (2 missing)
    assert(CountingCorpus.fetches.get() == 3,
      s"expected 3 body fetches, got ${CountingCorpus.fetches.get()}")
    assert(CountingCorpus.probes.get() == 5,
      s"expected 5 existence probes, got ${CountingCorpus.probes.get()}")
  }

  test("handle() fetches each (subject occurrence, page) once, debug or not") {
    RumorPagesSource.registerScheme("counting", p => new CountingCorpus(p))
    val spec = "counting:" + RumorPipeline.BundledCorpus.stripPrefix("classpath:")
    val q = RumorPipeline.DefaultSubjects + ", Jalen Brunson"
    // jb pages 1-2, knicks page 1, jb pages 1-2 again: 5 body reads; the
    // scan probes jb 1-3, knicks 1-2 and jb 1-3 again
    CountingCorpus.reset()
    assert(RumorPipeline.handle(spark, spec, q).contains(""""items":[{"""))
    assert((CountingCorpus.fetches.get(), CountingCorpus.probes.get()) == (5, 8))
    // debug adds one probe pass per distinct slug for the page errors
    CountingCorpus.reset()
    val dbg = RumorPipeline.handle(spark, spec, q, debug = true)
    assert(dbg.contains(""""returning":8"""), dbg)
    assert((CountingCorpus.fetches.get(), CountingCorpus.probes.get()) == (5, 13))
  }

  test("HtmlDom container fallback chain (fetchRumors.js:79-84)") {
    val byMain = HtmlDom.container(HtmlDom.parse("<body><main><p>x</p></main></body>"))
    assert(byMain.tag == "main")
    val byId = HtmlDom.container(HtmlDom.parse("<body><div id=\"content\"><p>x</p></div></body>"))
    assert(byId.attr("id").contains("content"))
    val byClass = HtmlDom.container(HtmlDom.parse("<body><div class=\"wrap container\"><p>x</p></div></body>"))
    assert(byClass.attr("class").contains("wrap container"))
    val byBody = HtmlDom.container(HtmlDom.parse("<body><p>just a body</p></body>"))
    assert(byBody.tag == "body")
  }

  test("paragraphHTML: href attribute value is serialized escaped (JSDOM innerHTML)") {
    val el = HtmlDom.parse(
      "<body><p>x <a href=\"https://x.com/?a=1&amp;b=&quot;q&quot;\">link</a></p></body>")
      .descendants.find(_.tag == "p").get
    // parse decoded the entities; serialization must re-escape & and "
    assert(HtmlDom.paragraphHtml(el) ==
      """x <a href="https://x.com/?a=1&amp;b=&quot;q&quot;" target="_blank">link</a>""")
  }

  test("paragraphHTML: U+00A0 serializes as &nbsp; in text and attributes (HTML serialization spec)") {
    val el = HtmlDom.parse(
      "<body><p>a\u00a0b <a href=\"https://x.com/p\u00a0q\">c&nbsp;d</a></p></body>")
      .descendants.find(_.tag == "p").get
    // &nbsp; decoded at parse time; serialization re-emits the entity in
    // both text nodes and attribute values, as JSDOM innerHTML does
    assert(HtmlDom.paragraphHtml(el) ==
      "a&nbsp;b <a href=\"https://x.com/p&nbsp;q\" target=\"_blank\">c&nbsp;d</a>")
  }

  test("paragraphHTML: anchors nested in non-anchors flatten away (fetchRumors.js:61-70)") {
    val el = HtmlDom.parse("<body><p>Start <b>bold <a href=\"https://x.com\">link</a></b> end. " +
      "<a href=\"https://y.com\" rel=\"nofollow\" class=\"c\">Keep</a></p></body>")
      .descendants.find(_.tag == "p").get
    val out = HtmlDom.paragraphHtml(el)
    assert(out == """Start bold link end. <a href="https://y.com" target="_blank">Keep</a>""")
  }
}

/** Classpath corpus instrumented with static counters (valid in local
  * mode: planner and readers share the JVM) — proves the planning probe
  * never reads a body and readers fetch each page exactly once.
  */
final class CountingCorpus(prefix: String)
    extends RumorSource.ClasspathCorpus(prefix) {
  override def fetch(slug: String, page: Int): Option[String] = {
    CountingCorpus.fetches.incrementAndGet()
    super.fetch(slug, page)
  }
  override def exists(slug: String, page: Int): Boolean = {
    CountingCorpus.probes.incrementAndGet()
    super.exists(slug, page)
  }
}

object CountingCorpus {
  val fetches = new java.util.concurrent.atomic.AtomicInteger(0)
  val probes = new java.util.concurrent.atomic.AtomicInteger(0)
  def reset(): Unit = { fetches.set(0); probes.set(0) }
}
