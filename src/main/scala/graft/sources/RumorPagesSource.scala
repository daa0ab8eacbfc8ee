package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 implementation of the paginated tag-page scan
  * (SURVEY.md §2A#1-3 "custom work"): one `InputPartition` per
  * (slug, page), in subject then page order, with
  * `SupportsPushDownLimit` so `LIMIT n` stops each page's element
  * emission early (the reference's per-page cap shape,
  * fetchRumors.js:119). [[RumorSource.elementRows]] reads the
  * partitions as one task, in that order — the reference's sequential
  * crawl (fetchRumors.js:133-151).
  *
  * Pagination follows the reference's permissive error semantics: page
  * existence is probed at planning time, sequentially per slug, and the
  * first missing page ends that tag's crawl with earlier pages kept
  * (fetchRumors.js:133-137). HTML fetch + parse happen inside the
  * executors' `PartitionReader`.
  *
  * Usage:
  * {{{
  *   spark.read.format("graft.sources.RumorPagesSource")
  *     .option("corpus", "dir:/path/to/corpus")   // or classpath:/prefix
  *     .option("slugs", "jalen_brunson,new_york_knicks")
  *     .option("maxPages", "10")
  *     .load()
  * }}}
  */
class RumorPagesSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RumorPagesSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RumorPagesTable(
      properties.getOrDefault("corpus", ""),
      properties.getOrDefault("slugs", ""),
      properties.getOrDefault("maxpages", RumorSource.MaxPages.toString).toInt)
}

object RumorPagesSource {
  /** Element-row schema — mirrors RumorSource.ElementRow. */
  val Schema: StructType = StructType(Seq(
    StructField("slug", StringType, nullable = false),
    StructField("subject_idx", IntegerType, nullable = false),
    StructField("page_no", IntegerType, nullable = false),
    StructField("doc_pos", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("iso_date", StringType, nullable = false),
    StructField("last_href", StringType, nullable = false),
    StructField("last_text", StringType, nullable = false),
    StructField("para_html", StringType, nullable = false)))

  /** Provider-scheme registry: "<scheme>:<rest>" → factory(rest).
    * Built-ins: dir, classpath. Additional schemes (an HTTP origin, a
    * counting test double) register here; on a real cluster the
    * registration must run in executor JVMs too (e.g. from a library
    * static initializer), since readers resolve the spec locally.
    */
  private val schemes =
    new java.util.concurrent.ConcurrentHashMap[String, String => RumorSource.PageProvider]()
  registerScheme("dir", p => new RumorSource.DirCorpus(p))
  registerScheme("classpath", p => new RumorSource.ClasspathCorpus(p))
  // "http://origin" / "https://origin" — rest includes the leading "//"
  registerScheme("http", rest => new HttpCorpus("http:" + rest))
  registerScheme("https", rest => new HttpCorpus("https:" + rest))

  def registerScheme(name: String, factory: String => RumorSource.PageProvider): Unit =
    schemes.put(name, factory)

  /** Build a provider from its option spec ("dir:<path>",
    * "classpath:<prefix>", or any registered scheme).
    */
  def providerFromSpec(spec: String): RumorSource.PageProvider = {
    val i = spec.indexOf(':')
    val factory = if (i > 0) schemes.get(spec.substring(0, i)) else null
    if (factory == null) throw new IllegalArgumentException(
      s"corpus spec must be <scheme>:<rest> with a registered scheme " +
        s"(${schemes.keySet()}), got '$spec'")
    factory(spec.substring(i + 1))
  }
}

final class RumorPagesTable(corpusSpec: String, slugsCsv: String, maxPages: Int)
    extends Table with SupportsRead {
  override def name(): String = s"rumor_pages($corpusSpec)"
  override def schema(): StructType = RumorPagesSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RumorPagesScanBuilder(corpusSpec, slugsCsv, maxPages)
}

final class RumorPagesScanBuilder(corpusSpec: String, slugsCsv: String, maxPages: Int)
    extends ScanBuilder with SupportsPushDownLimit {
  private var limit: Int = Int.MaxValue
  override def pushLimit(l: Int): Boolean = { limit = l; true /* partial */ }
  override def build(): Scan = new RumorPagesScan(corpusSpec, slugsCsv, maxPages, limit)
}

/** One page of one subject's crawl. */
final case class RumorPagePartition(slug: String, subjectIdx: Int, pageNo: Int)
    extends InputPartition

final class RumorPagesScan(corpusSpec: String, slugsCsv: String, maxPages: Int,
    limit: Int) extends Scan with Batch {
  override def readSchema(): StructType = RumorPagesSource.Schema
  override def toBatch: Batch = this
  override def description(): String =
    s"RumorPagesScan(corpus=$corpusSpec, slugs=$slugsCsv, maxPages=$maxPages" +
      (if (limit != Int.MaxValue) s", pushedLimit=$limit)" else ")")

  /** Sequential EXISTENCE probe per slug (PageProvider.exists — stat /
    * HEAD, never a body read); first missing page ends the tag
    * (permissive error semantics). Bodies are fetched exactly once, in
    * the executors' readers. Planned once per scan.
    */
  private lazy val pages: Array[InputPartition] = {
    val provider = RumorPagesSource.providerFromSpec(corpusSpec)
    val slugs = slugsCsv.split(",").map(_.trim).filter(_.nonEmpty)
    slugs.zipWithIndex.flatMap { case (slug, idx) =>
      Iterator.from(1).take(maxPages)
        .takeWhile(p => provider.exists(slug, p))
        .map(p => RumorPagePartition(slug, idx, p): InputPartition)
        .toSeq
    }
  }

  override def planInputPartitions(): Array[InputPartition] = pages

  override def createReaderFactory(): PartitionReaderFactory =
    new RumorPagesReaderFactory(corpusSpec, limit)
}

final class RumorPagesReaderFactory(corpusSpec: String, limit: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[RumorPagePartition]
    new RumorPageReader(corpusSpec, p, limit)
  }
}

/** Fetches + parses one page inside the executor and emits element rows
  * (stopping at the pushed limit, if any).
  */
final class RumorPageReader(corpusSpec: String, partition: RumorPagePartition,
    limit: Int) extends PartitionReader[InternalRow] {

  private val rows: Iterator[RumorSource.ElementRow] = {
    val provider = RumorPagesSource.providerFromSpec(corpusSpec)
    provider.fetch(partition.slug, partition.pageNo) match {
      case Some(html) =>
        RumorSource.parsePage(RumorSource.PageDoc(
          partition.slug, partition.subjectIdx, partition.pageNo, html)).iterator
      case None => Iterator.empty // page vanished between plan and read
    }
  }
  private var emitted = 0
  private var current: RumorSource.ElementRow = _

  override def next(): Boolean = {
    if (emitted >= limit || !rows.hasNext) false
    else { current = rows.next(); emitted += 1; true }
  }

  override def get(): InternalRow = {
    def u(s: String): UTF8String = UTF8String.fromString(s)
    new GenericInternalRow(Array[Any](
      u(current.slug), current.subject_idx, current.page_no, current.doc_pos,
      u(current.tag), u(current.text), u(current.iso_date),
      u(current.last_href), u(current.last_text), u(current.para_html)))
  }

  override def close(): Unit = ()
}
