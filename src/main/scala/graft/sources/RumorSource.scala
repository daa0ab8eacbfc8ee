package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.ScalarOps

/** Paginated tag-page source (ref fetchRumors.js:126-151): page
  * providers, crawl URLs and the page parse. [[RumorPagesSource]] crawls
  * pages 1..MaxPages per slug, stopping a tag's pagination at the first
  * fetch error (missing page) with items-so-far kept — the reference's
  * permissive error semantics (fetchRumors.js:133-137).
  *
  * The corpus stands in for the HTTP origin (zero-egress environment):
  * a [[PageProvider]] is the fetchText boundary, so swapping providers
  * (an HTTP origin, a test double) touches nothing downstream of the
  * element-row schema. The HTML parse runs in the executors' readers.
  */
object RumorSource {

  val MaxPages = 10

  /** The reference's crawl origin (fetchRumors.js:14). */
  val PreviewOrigin = "http://preview.hoopshype.com"

  /** JS `encodeURIComponent` semantics (unescaped: A-Za-z0-9 -_.!~*'()),
    * which differ from java.net.URLEncoder (form encoding: space→+ and
    * !'()~ escaped). Used for the crawl-URL slug segment
    * (fetchRumors.js:131).
    */
  def encodeUriComponent(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
      .replace("+", "%20").replace("%21", "!").replace("%27", "'")
      .replace("%28", "(").replace("%29", ")").replace("%7E", "~")

  /** Tag-page path templating (fetchRumors.js:131): page 1 is the bare
    * tag path; later pages append `page/{n}/`. Single source of truth —
    * both the live HttpCorpus requests and the debug-envelope error
    * messages build on this, so they can never drift apart.
    */
  def crawlPath(slug: String, page: Int): String =
    s"/rumors/tag/${encodeUriComponent(slug)}/" +
      (if (page > 1) s"page/$page/" else "")

  def crawlUrl(slug: String, page: Int): String =
    PreviewOrigin + crawlPath(slug, page)

  /** The fetch boundary: None = fetch error (ends that tag's crawl). */
  trait PageProvider extends Serializable {
    def fetch(slug: String, page: Int): Option[String]

    /** Existence-only probe, used at DSv2 planning time so the driver
      * never pays for page bodies (executors fetch each page exactly
      * once). Override with a cheap check (stat / HEAD); the default
      * falls back to a full fetch for providers without one.
      */
    def exists(slug: String, page: Int): Boolean = fetch(slug, page).isDefined
  }

  /** Directory corpus: {dir}/{slug}/page{n}.html */
  class DirCorpus(dir: String) extends PageProvider {
    def fetch(slug: String, page: Int): Option[String] = {
      val p = Paths.get(dir, slug, s"page$page.html")
      if (Files.isReadable(p)) Some(Files.readString(p)) else None
    }
    /** stat, not read: planning cost is metadata-only. */
    override def exists(slug: String, page: Int): Boolean =
      Files.isReadable(Paths.get(dir, slug, s"page$page.html"))
  }

  /** Classpath corpus: {prefix}/{slug}/page{n}.html (bundled fixtures). */
  class ClasspathCorpus(prefix: String) extends PageProvider {
    def fetch(slug: String, page: Int): Option[String] = {
      val in = getClass.getResourceAsStream(s"$prefix/$slug/page$page.html")
      if (in == null) None
      else {
        try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
        finally in.close()
      }
    }
    /** resource-URL lookup, not stream read. */
    override def exists(slug: String, page: Int): Boolean =
      getClass.getResource(s"$prefix/$slug/page$page.html") != null
  }

  /** One fetched page document. */
  case class PageDoc(slug: String, subject_idx: Int, page_no: Int, html: String)

  /** One element row of the parsed page scan — the stable interface
    * between HTML and the relational pipeline (FIXTURES.md §B).
    */
  case class ElementRow(
      slug: String, subject_idx: Int, page_no: Int, doc_pos: Int,
      tag: String, text: String, iso_date: String,
      last_href: String, last_text: String, para_html: String)

  /** Parse one page into element rows (the JSDOM walk of
    * fetchRumors.js:89-117, relationalized; document order carried as
    * doc_pos per SURVEY §1.4).
    */
  def parsePage(doc: PageDoc): Seq[ElementRow] = {
    val dom = HtmlDom.parse(doc.html)
    val cont = HtmlDom.container(dom)
    cont.descendants.zipWithIndex.map { case (el, pos) =>
      val text = ScalarOps.clean(el.textContent)
      val iso = ScalarOps.extractIsoDate(text)
      val isItem = el.tag == "p" || el.tag == "li"
      val lastA = if (isItem) el.anchors.lastOption else None
      ElementRow(
        doc.slug, doc.subject_idx, doc.page_no, pos, el.tag, text, iso,
        lastA.flatMap(_.attr("href")).getOrElse(""),
        lastA.map(a => ScalarOps.clean(a.textContent)).getOrElse(""),
        if (isItem) HtmlDom.paragraphHtml(el) else "")
    }
  }

  /** The element-row scan through the DataSource V2 source
    * (RumorPagesSource): one input partition per (slug, page), read as
    * ONE task that fetches and parses. A request reads at most MaxPages
    * pages per subject, so one task costs less than a shuffle, and its
    * `SinglePartition` satisfies every window and the final top-n of
    * the pipeline: no exchange, one job. A DSv2 scan cannot report
    * `SinglePartition` itself, hence the coalesce. `corpusSpec` is
    * "dir:<path>" or "classpath:<prefix>".
    */
  def elementRows(spark: SparkSession, corpusSpec: String,
      slugs: Seq[String]): DataFrame =
    spark.read.format("graft.sources.RumorPagesSource")
      .option("corpus", corpusSpec)
      .option("slugs", slugs.mkString(","))
      .option("maxPages", MaxPages.toString)
      .load()
      .coalesce(1)
}
