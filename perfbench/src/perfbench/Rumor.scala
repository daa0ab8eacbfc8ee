package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.text.Normalizer
import java.time.LocalDate
import java.time.format.{DateTimeFormatter, TextStyle}
import java.util.Locale
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.operators.RumorPipeline
import graft.sources.RumorSource

/** Seeded rumor corpus in the bundled page format:
  * `{dir}/{slug}/page{n}.html`, page 1 newest, each page a `<main>` of
  * `<h3>` date headers followed by `<p>`/`<li>` items. Edge inputs ride
  * along: non-ASCII subjects and text, items repeated across pages and
  * tags, items under 15 characters, items without an anchor, and
  * snippets that end with their source's name.
  */
final class RumorCorpus(val dir: Path, seed: Long, nSubjects: Int = 200) {
  private val rng = new Random(seed)

  private val firsts = Vector("Jalen", "Nikola", "Luka", "Alperen", "Théo", "Dāvis",
    "Kristaps", "Jusuf", "Ömer", "Dario", "Goran", "Bogdan", "Jonas", "Zion",
    "Tyrese", "Shai", "Anthony", "Jayson", "Devin", "Trae", "Şener", "Kyle",
    "Marcus", "Domantas", "Killian", "Ousmane", "Vasilije", "Nicolò", "André", "Luc")
  private val lasts = Vector("Brunson", "Jokić", "Dončić", "Şengün", "Maledon",
    "Bertāns", "Porziņģis", "Nurkić", "Yurtseven", "Šarić", "Dragić", "Bogdanović",
    "Valančiūnas", "Williamson", "Haliburton", "Gilgeous-Alexander", "Edwards",
    "Tatum", "Booker", "Young", "Lowry", "Smart", "Sabonis", "Hayes", "Dieng",
    "Micić", "Melli", "Iguodala", "Mbah a Moute", "O'Neale")
  private val sources = Vector("ESPN", "The Athletic", "NY Post", "SNY", "HoopsHype",
    "Marca", "Gazzetta dello Sport", "L'Équipe", "Sportske novosti", "Yahoo Sports")
  private val words = Vector("sources", "say", "the", "team", "is", "exploring", "a",
    "trade", "for", "backup", "center", "market", "this", "week", "contract",
    "extension", "talks", "remain", "ongoing", "após", "négociations", "über",
    "rotation", "minutes", "deadline", "front office", "interest", "league",
    "rival", "executives", "expect", "draft", "pick", "rookie", "scale", "max",
    "offer", "sheet", "“sign-and-trade”", "décision", "ankle", "soreness", "café",
    "Jokić-led", "roster", "spot", "two-way", "deal")

  /** Slug of a subject by the reference's rule: NFD, strip combining
    * marks, lower-case, `&` as " and ", non-alphanumeric runs to `_`.
    */
  def slug(s: String): String = {
    val nfd = Normalizer.normalize(s.trim.replaceAll("\\s+", " "), Normalizer.Form.NFD)
    nfd.replaceAll("[\\u0300-\\u036f]", "").toLowerCase(Locale.ROOT)
      .replace("&", " and ").replaceAll("[^a-z0-9]+", "_").replaceAll("^_+|_+$", "")
  }

  val subjects: IndexedSeq[String] = {
    val seen = mutable.LinkedHashMap.empty[String, String]
    while (seen.size < nSubjects) {
      val s = s"${firsts(rng.nextInt(firsts.length))} ${lasts(rng.nextInt(lasts.length))}"
      seen.getOrElseUpdate(slug(s), s)
    }
    seen.values.toIndexedSeq
  }

  /** Pages per subject: every count from 1 to 10 on the same number of
    * subjects, in a seeded assignment.
    */
  val pagesOf: Map[String, Int] =
    rng.shuffle(subjects.indices.toVector).zip(subjects)
      .map { case (i, s) => s -> (1 + i % RumorSource.MaxPages) }.toMap

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** Item text: the same word mix on every page and for every seed, so
    * that no seed's pages cost more to parse than another's.
    */
  private def sentence(): String = {
    val n = 8 + rng.nextInt(18)
    Seq.fill(n)(words(rng.nextInt(words.length))).mkString(" ").capitalize + "."
  }

  /** Items shared across pages and tags (the wire feed every tag page
    * repeats); the same text must dedup to one item.
    */
  private val wire: Vector[String] = Vector.fill(300) {
    val src = sources(rng.nextInt(sources.length))
    s"""${esc(sentence())} <a href="https://wire.example.com/${rng.nextInt(1 << 20)}">${esc(src)}</a>"""
  }

  private def item(): String = rng.nextInt(20) match {
    case 0 | 1 => wire(rng.nextInt(wire.length)) // repeated across pages and tags
    case 2 => esc(Seq("Short one.", "No news.", "Ça va.", "Out.")(rng.nextInt(4))) // < 15 chars
    case 3 | 4 => esc(sentence()) // no anchor: source defaults
    case 5 | 6 => // snippet ends with its source's name
      val src = sources(rng.nextInt(sources.length))
      s"""${esc(sentence())} <a href="https://news.example.com/${rng.nextInt(1 << 20)}">${esc(src)}</a> via ${esc(src)}"""
    case 7 => // anchor mid-text, inline markup around it
      val src = sources(rng.nextInt(sources.length))
      s"""${esc(sentence())} <b>${esc(src)}</b> <a href="https://mid.example.com/${rng.nextInt(1 << 20)}">${esc(src)}</a> has <i>the details</i>."""
    case _ =>
      val src = sources(rng.nextInt(sources.length))
      s"""${esc(sentence())} <a href="https://news.example.com/${rng.nextInt(1 << 20)}">${esc(src)}</a>"""
  }

  private val dateFmt = DateTimeFormatter.ofPattern("d, yyyy", Locale.ROOT)

  var pages = 0
  var bytes = 0L

  /** Write every page; returns the page paths. */
  def write(): Seq[Path] = {
    val out = mutable.ArrayBuffer.empty[Path]
    subjects.foreach { subject =>
      val d = dir.resolve(slug(subject))
      Files.createDirectories(d)
      var date = LocalDate.of(2025, 10, 15).minusDays(rng.nextInt(30))
      for (p <- 1 to pagesOf(subject)) {
        val sb = new StringBuilder
        sb.append("<!doctype html>\n<html lang=\"en\">\n<head><title>")
          .append(esc(subject)).append(" Rumors - HoopsHype</title></head>\n<body>\n")
          .append("<nav>Home | Rumors | Teams | Players</nav>\n<main>\n")
        var left = 80
        while (left > 0) {
          val month = date.getMonth.getDisplayName(TextStyle.FULL, Locale.ROOT)
          sb.append(s"  <h3>$month ${date.format(dateFmt)}</h3>\n")
          val k = math.min(left, 3 + rng.nextInt(6))
          for (_ <- 0 until k) {
            val tag = if (rng.nextInt(5) == 0) "li" else "p"
            sb.append(s"  <$tag>${item()}</$tag>\n")
          }
          left -= k
          date = date.minusDays(1 + rng.nextInt(2))
        }
        sb.append("</main>\n</body>\n</html>\n")
        val f = d.resolve(s"page$p.html")
        val b = sb.toString.getBytes(StandardCharsets.UTF_8)
        Files.write(f, b)
        out += f
        pages += 1
        bytes += b.length
      }
    }
    out.toSeq
  }
}

/** The paper's request path under a closed loop of `nproc` clients:
  * each sends its next request only after the previous reply.
  */
final class RumorWorkload(ctx: Ctx) extends Workload {
  private val a = ctx.args
  private val corpus = new RumorCorpus(ctx.dir("corpus"), a.seed)
  private val spec = s"dir:${corpus.dir}"
  private var pagePaths: Seq[Path] = Nil

  /** The requests, most popular first (one per [[Shape]] entry), and
    * each one's answer as computed before timing.
    */
  private var pool: IndexedSeq[String] = IndexedSeq.empty
  private val expected = mutable.HashMap.empty[String, String]

  /** Pages per subject of each request, most popular first. The seed
    * draws the subjects (among those with these page counts), their
    * separators and the corpus; the shape stays fixed, so every seed asks
    * for the same amount of work.
    */
  private val Shape = Vector(Seq(4), Seq(2, 6), Seq(8), Seq(3), Seq(5, 1, 7),
    Seq(10), Seq(1, 9), Seq(6), Seq(2), Seq(7, 3), Seq(9, 4), Seq(3, 8, 2))
  private val cdf: IndexedSeq[Double] = {
    val w = Shape.indices.map(i => 1.0 / math.pow(i + 1, 0.8))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  /** Subjects by their number of pages, in corpus order. */
  private val byPages: Map[Int, IndexedSeq[String]] =
    corpus.subjects.groupBy(corpus.pagesOf)

  override def prepare(): Unit = {
    pagePaths = corpus.write()
    val rng = new Random(a.seed ^ 0x5eed)
    val seps = Vector(", ", ",", " , ", ",  ")
    pool = Shape.map { pages =>
      val subs = pages.map(p => byPages(p)(rng.nextInt(byPages(p).length)))
      subs.mkString(seps(rng.nextInt(seps.length)))
    }
  }

  /** Pages of the subject each set-up round asks for: fixed, so that
    * every seed's set-up does the same work.
    */
  private val SetupPages = 5

  def setup(spark: SparkSession, round: Int): Unit = {
    val warm = byPages(SetupPages)(round % byPages(SetupPages).length)
    val body = RumorPipeline.handle(spark, spec, warm)
    if (body.startsWith("{\"error\"")) ctx.problems += s"warm-up request failed: $body"
  }

  private val mapper = new ObjectMapper()

  /** Envelope invariants: ≤ 8 items, dates non-increasing, subject echoed. */
  private def envelopeProblem(q: String, body: String): Option[String] =
    try {
      val j = mapper.readTree(body)
      val items = j.get("items")
      val dates = (0 until items.size).map(i => items.get(i).get("date").asText)
      if (j.get("subject") == null || j.get("subject").asText != q.trim)
        Some(s"subject not echoed for q=$q")
      else if (items.size > 8) Some(s"${items.size} items for q=$q")
      else if (dates.zip(dates.drop(1)).exists { case (x, y) => x < y })
        Some(s"dates increase for q=$q")
      else None
    } catch { case e: Exception => Some(s"unparseable response for q=$q: $e") }

  /** Seconds of closed-loop load before timing: the JVM's compilers keep
    * speeding up the request path for tens of seconds after start.
    */
  private val WarmUpSeconds = 6

  /** Each distinct request once, with a single client, then the warm-up
    * load; neither is timed, both are checked.
    */
  override def beforeMeasure(spark: SparkSession): Unit = {
    pool.foreach { q =>
      val body = RumorPipeline.handle(spark, spec, q)
      envelopeProblem(q, body).foreach(ctx.problems += _)
      expected(q) = body
    }
    val warm = closedLoop(System.nanoTime() + WarmUpSeconds * 1000000000L, 100,
      q => RumorPipeline.handle(spark, spec, q), _ => ())
    if (warm.exists(!_.ok)) ctx.problems += "a warm-up response differs from its expected answer"
  }

  private def request(spark: SparkSession, q: String): String = {
    val t = ctx.tracer
    if (!t.enabled) return RumorPipeline.handle(spark, spec, q)
    // traced: the two calls RumorPipeline.handle makes, each as a span
    val op = t.nextOp()
    t.withOpGroup(spark, op) {
      t.span("request", "client", op, 0L) { root =>
        val qRaw = q.trim
        val df = t.span("RumorPipeline.run", "operators", op, root)(_ =>
          RumorPipeline.run(spark, spec, qRaw))
        t.span("collect+envelope", "action", op, root)(_ =>
          RumorPipeline.jsonEnvelope(qRaw, df))
      }
    }
  }

  /** `nproc` clients, each sending its next request when the previous
    * reply is in, until `deadlineNs`. The popularity draws depend only on
    * the client (see Shape), so every seed sends the same request mix.
    */
  private def closedLoop(deadlineNs: Long, rngBase: Int, send: String => String,
      done: Op => Unit): Seq[Op] = {
    val out = new ConcurrentLinkedQueue[Op]()
    val clients = Executors.newFixedThreadPool(a.nproc)
    try {
      (0 until a.nproc).foreach { c =>
        clients.submit(new Runnable {
          def run(): Unit = {
            val rng = new Random(rngBase + c)
            while (System.nanoTime() < deadlineNs) {
              val u = rng.nextDouble()
              val rank = cdf.indexWhere(_ >= u) max 0
              val q = pool(rank)
              val t0 = System.nanoTime()
              val body = try send(q) catch { case e: Exception => s"exception: $e" }
              val op = Op(s"request:$rank", t0, System.nanoTime(), body == expected(q))
              out.add(op)
              done(op)
            }
          }
        })
      }
    } finally {
      clients.shutdown()
      clients.awaitTermination(1, TimeUnit.HOURS)
    }
    out.asScala.toSeq.sortBy(_.startNs)
  }

  def measure(spark: SparkSession, deadlineNs: Long): Seq[Op] =
    closedLoop(deadlineNs, 1, request(spark, _), _ => ctx.opDone(spark))

  def after(spark: SparkSession, ops: Seq[Op]): (Map[String, Double], Map[String, Double]) = {
    val report = mutable.LinkedHashMap[String, Double](
      "corpus_subjects" -> corpus.subjects.length.toDouble,
      "corpus_pages" -> corpus.pages.toDouble,
      "corpus_mb" -> corpus.bytes / Stats.MB,
      "distinct_requests" -> pool.length.toDouble)
    ops.groupBy(_.kind).foreach { case (k, os) => report(s"${k}_p50_ms") = Stats.median(os.map(_.ms)) }
    if (a.trace) {
      // the parse layer alone: RumorSource.parsePage over every page
      val docs = pagePaths.map { p =>
        RumorSource.PageDoc(p.getParent.getFileName.toString, 0,
          p.getFileName.toString.stripPrefix("page").stripSuffix(".html").toInt,
          Files.readString(p))
      }
      docs.take(50).foreach(RumorSource.parsePage) // JIT warm-up
      val t0 = System.nanoTime()
      val rows = docs.map(RumorSource.parsePage(_).length).sum
      report("sources.parse_page_us") = (System.nanoTime() - t0) / 1e3 / docs.length
      report("parsed_element_rows") = rows.toDouble
      if (rows == 0) ctx.problems += "generated pages parse to no element rows"
    }
    val layer = Layers.extraUnits.map(_._1 -> 0.0).toMap
    (report.toMap, layer)
  }
}
