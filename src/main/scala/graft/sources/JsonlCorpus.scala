package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus ingest — the wire format most text corpora actually
  * arrive in (one JSON document per line, usually gzipped, often with
  * a tail of malformed lines from truncated uploads or encoding bugs).
  * The engine-side contract: parse what parses, QUARANTINE what
  * doesn't — never fail the 100 TB job on line 73 of shard 9041, and
  * never silently drop bad lines either (the quarantine count is part
  * of the output).
  *
  * Spark-side: `spark.read.json` in PERMISSIVE mode with an explicit
  * schema + corrupt-record column. An explicit schema matters twice at
  * scale: it skips the sampling pass schema inference would run over
  * the corpus, and it pins the contract so a drifting producer surfaces
  * as nulls/quarantine instead of a silently widened schema.
  */
object JsonlCorpus {

  /** Every doc_id ≡ 3 (mod 17) is corrupted on write (line truncated
    * mid-JSON) — the deterministic stand-in for transport truncation.
    */
  val CorruptMod = 17L
  val CorruptRes = 3L

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("n_chars", LongType),
    StructField("_corrupt", StringType)))

  /** Serialize the documents table as JSONL, truncating the designated
    * subset of lines mid-JSON (a cut line cannot close its braces, so
    * it is malformed by construction).
    */
  def writeJsonl(docs: DataFrame, outDir: String): Unit =
    docs
      .select(col("doc_id"), to_json(struct(col("doc_id"), col("text"),
        col("lang"), col("n_chars"))).as("j"))
      // the corruption predicate tests the doc_id COLUMN, not a
      // re-parse of the just-serialized JSON: get_json_object returns a
      // string whose % would coerce through DOUBLE (wrong residues past
      // 2^53) and would pay a per-row JSON parse for nothing
      .select(
        when(col("doc_id") % CorruptMod === CorruptRes,
          expr("substring(j, 1, cast(length(j) / 2 as int))"))
          .otherwise(col("j")).as("value"))
      .write.mode("overwrite").text(outDir)

  /** Permissive JSONL read: parsed rows plus the corrupt-record column
    * (cached — Spark disallows queries touching only the internal
    * corrupt column on an uncached relation).
    */
  def readJsonl(s: SparkSession, inDir: String): DataFrame =
    s.read
      .schema(docSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(inDir)
      .cache()

  /** Monotone run counter: each q108 invocation writes to a FRESH
    * directory, so the plan-keyed cache of a previous run can never
    * satisfy the new run's read — every invocation provably reads what
    * it just wrote, even if the writer were nondeterministic.
    */
  private val runSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Last run's cached read per (session, sfDir) — kept in a
    * [[graft.SessionCache]] so dead sessions' entries evict on
    * application end like every other operator cache; the previous
    * run's read is unpersisted when the next run starts (bounded
    * retention: one cached read per live corpus).
    */
  private val lastParsed = new graft.SessionCache

  /** Output directories per (session, sfDir), newest first. The
    * newest TWO generations stay on disk: the previous run's directory
    * must outlive the swap because a caller may still hold (and
    * lazily re-evaluate) the DataFrame returned by that run — its
    * cache was dropped, so a recompute reads the files. Only
    * generation k−2, which no reachable plan can reference once run k
    * begins, is deleted.
    */
  private val outDirs = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), List[String]]

  /** Guards the generation rotation below: getOrElse→update→delete is a
    * read-modify-write, and two concurrent q108 runs for the same key
    * interleaving it could lose a generation from the keep-list (leaked
    * directory) or delete a directory the racing run still references.
    * Contention is one rotation per query invocation, so a single lock
    * is cheaper than per-key machinery.
    */
  private val outDirsLock = new Object

  private def deleteDir(path: String): Unit = {
    def rec(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rec)
      f.delete(): Unit
    }
    rec(new java.io.File(path))
  }

  def jsonlOutDir(sfDir: String): String = {
    val root = sys.env.getOrElse("GRAFT_JSONL_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_jsonl")
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir).toLong & 0xffffffffL)
    s"$root/out_${key}_r${runSeq.incrementAndGet()}"
  }

  /** q108: JSONL round-trip with quarantine — write the documents table
    * as JSONL (with the deterministic corrupt subset), read it back
    * permissively, and emit every cleanly-parsed document (content
    * pinned by stable_hash64(text)) alongside the corpus-wide
    * quarantine count. The oracle recomputes both sides from the
    * parquet table and the same modular rule, so a hash match proves
    * the serialize → corrupt → permissive-parse → quarantine path is
    * lossless on good lines and complete on bad ones.
    */
  val q108JsonlIngest: (SparkSession, String) => DataFrame = (s, dir) => {
    val out = jsonlOutDir(dir)
    writeJsonl(graft.Engine.table(s, dir, "documents"), out)
    val parsed = readJsonl(s, out)
    lastParsed.put(s, dir, parsed).foreach(_.unpersist(blocking = false))
    val drop = outDirsLock.synchronized {
      val (keep, d) = (out :: outDirs.getOrElse((s, dir), Nil)).splitAt(2)
      outDirs.update((s, dir), keep)
      d
    }
    drop.foreach(deleteDir)
    val quarantined = parsed
      .agg(sum(col("_corrupt").isNotNull.cast("bigint")).as("n_quarantined"))
    parsed.filter(col("_corrupt").isNull)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr("stable_hash64(text)").as("text_hash"))
      .crossJoin(broadcast(quarantined))
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map("q108_jsonl_ingest" -> q108JsonlIngest)

  val oracles: Map[String, String] = Map(
    "q108_jsonl_ingest" ->
      s"""SELECT doc_id, lang, n_chars,
        |  ${graft.operators.LlmOps.hashD("text")} AS text_hash,
        |  (SELECT count(*) FROM documents WHERE doc_id % $CorruptMod = $CorruptRes)
        |    AS n_quarantined
        |FROM documents WHERE doc_id % $CorruptMod != $CorruptRes
        |ORDER BY doc_id""".stripMargin)
}
