package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine
import graft.operators.{IndexOps, LlmOps}

/** STANDING positional index — build once, look up many (VERDICT r9
  * item 4).
  *
  * q80/q97/q151 re-explode the corpus to build postings per query; a
  * production engine pays the tokenize+explode scan ONCE, persists the
  * index as a parquet artifact, and answers every retrieval question
  * by equi-joining on term keys against the stored postings. This
  * module is that shape:
  *
  *   `<root>/postings/pbucket=<b>/…parquet`  (token, doc_id, pos)
  *   `<root>/lengths/…parquet`               (doc_id, dl)
  *   `<root>/stats/…parquet`                 (n_docs, sum_dl)
  *
  *  - `pbucket = stable_hash64('idx:'||token) % NumIndexBuckets` is a
  *    CONTENT-derived partition key (same discipline as the q81 shard
  *    sink): a term's bucket is a pure function of the term, so a
  *    lookup computes its terms' buckets and reads ONLY those
  *    partition directories — Spark partition pruning does the
  *    term-shard routing a real index server performs. Within each
  *    bucket, postings are sorted by (token, doc_id) so parquet
  *    row-group stats prune the non-matching terms of the bucket too.
  *  - `lengths`/`stats` persist the per-doc and corpus-level length
  *    statistics BM25 needs — the scoring lookup never touches the
  *    text again.
  *  - Exact longs (`sum_dl`, not a precomputed avgdl double) are
  *    stored, so derived ratios are computed identically by any
  *    reader.
  *
  * Artifact freshness is SIGNATURE-VALIDATED, not rebuild-always: each
  * build stamps a `meta` row with the corpus's content signature
  * ([[inputSig]]), and a new session's first lookup revalidates the
  * stored row against the current corpus — match ⇒ the artifact is
  * reused (the production behavior: an index outlives the session that
  * built it), mismatch ⇒ rebuild (a driver-side fixture regen can
  * still never serve a stale index — the regen flips the signature).
  * Lookup queries call [[ensure]], so each is self-contained; within a
  * session the validation itself is latched to run once.
  *
  * The lookups (q157 BM25, q158 phrase search) intentionally REUSE the
  * q80/q151 oracles verbatim: a hash match proves the stored-index
  * equi-join path computes byte-identical results to the scan-and-
  * explode path the oracles were written against — index == corpus, the
  * invariant an incremental indexer must maintain.
  */
object StandingIndex {

  type Q = (SparkSession, String) => DataFrame

  /** Term-shard count. Fixture-scale; production sizes this as
    * |distinct terms| × postings_bytes / target_shard_bytes.
    */
  val NumIndexBuckets = 16

  /** Artifact root for a corpus dir — env-overridable, defaulting to
    * the JVM temp dir; keyed by the input path so sf runs never collide
    * (same pattern as [[TrainingShards.shardOutDir]]). ONE keying
    * scheme for every standing-artifact family (`idx_` positional,
    * `sim_` similarity), so a change to the key derivation cannot leave
    * the families resolving inconsistently.
    */
  private[graft] def artifactRoot(sfDir: String, prefix: String): String = {
    val root = sys.env.getOrElse("GRAFT_INDEX_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_index")
    val key = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(sfDir).toLong & 0xffffffffL)
    s"$root/${prefix}_$key"
  }

  def indexRoot(sfDir: String): String = artifactRoot(sfDir, "idx")

  // ---- cross-session artifact reuse (VERDICT r11 item 1) ----------

  /** Artifact layout version, stored in every meta row — bumping it on
    * a layout change invalidates every stored artifact at once, so a
    * code upgrade can never serve an old-layout artifact as fresh.
    */
  val MetaVersion = 1L

  /** The freshness signature of an artifact derived from `tables` of
    * the fixture dir `dir` under build recipe `layout`: (Σ rows,
    * (Σ per-table term + layout) mod [[SigMod]]). Every standing
    * artifact over fixture tables validates through this one function;
    * a family names its input tables and its layout version, nothing
    * more.
    *
    * A table's term is its row count and the order-independent multiset
    * sum Σ pmod(hash(every column), SigMod) with the table's name folded
    * in, so rows moving between tables cannot cancel out. Any added,
    * dropped or edited row moves the sum, so a stored artifact whose
    * meta row matches was built from byte-identical inputs. The hash is
    * Spark's builtin Murmur3 over every column (arrays included):
    * signatures face only our own comparator, never the DuckDB oracle.
    *
    * Each term is one map-side aggregate over the table, memoized
    * JVM-wide per table path behind the path's listing token
    * ([[SnapshotStore.listingToken]], the token the manifest memo
    * already trusts): a rewritten table lists differently and
    * recomputes, a new JVM always recomputes, and every later family
    * and session over an unchanged table pays one directory listing
    * instead of a content scan. The stored meta row stays the content
    * signature, so the token only decides when to rescan.
    */
  def inputSig(s: SparkSession, dir: String, tables: Seq[String],
      layout: Long = 0L): (Long, Long) = {
    val terms = tables.map(tableTerm(s, dir, _))
    withLayout((terms.map(_._1).sum, terms.map(_._2).sum), layout)
  }

  /** Per table path: (listing token, term) of the last scan. */
  private val termMemo =
    scala.collection.concurrent.TrieMap.empty[String, (String, (Long, Long))]
  private val TermMemoCap = 2048

  /** One table's term of [[inputSig]]: memoized while its listing
    * token holds. The token is taken before the scan, so a table
    * rewritten mid-scan is stored under the old token and rescans.
    */
  private def tableTerm(s: SparkSession, dir: String, table: String): (Long, Long) = {
    val path = s"$dir/$table.parquet"
    val tok = SnapshotStore.listingToken(s, new org.apache.hadoop.fs.Path(path))
    tok.flatMap(t => termMemo.get(path).collect { case (`t`, term) => term })
      .getOrElse {
        val df = Engine.table(s, dir, table)
        val r = df.agg(count(lit(1)).cast("long"),
            coalesce(sum(pmod(hash(df.columns.toSeq.map(col): _*).cast("long"),
              lit(SigMod))), lit(0L)).cast("long"))
          .head()
        val term = (r.getLong(0), Math.floorMod(
          scala.util.hashing.MurmurHash3.stringHash(table).toLong + r.getLong(1), SigMod))
        tok.foreach { t =>
          if (termMemo.size >= TermMemoCap) termMemo.clear()
          termMemo.put(path, (t, term))
        }
        term
      }
  }

  /** The freshness meta row's one file, `<root>/meta`: one line
    * "format_version n_docs corpus_sig", read and written on the driver
    * through the Hadoop FileSystem like SnapshotStore's sidecars, so
    * revalidating a fresh artifact launches no Spark job of its own.
    */
  private def metaPath(root: String) = new org.apache.hadoop.fs.Path(s"$root/meta")

  /** The whole row, newline included: a torn write never parses. */
  private val MetaRow = """(-?\d+) (-?\d+) (-?\d+)\n""".r

  /** Write the freshness meta row. Private: [[refresh]] is its one
    * caller, so the commit marker is always written last. The delete
    * also clears a row stored in the old parquet-directory form.
    */
  private def writeMeta(s: SparkSession, root: String,
      sig: (Long, Long)): Unit = {
    val p = metaPath(root)
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    f.delete(p, true)
    val out = f.create(p, false)
    try out.write(s"$MetaVersion ${sig._1} ${sig._2}\n".getBytes("UTF-8"))
    finally out.close()
  }

  /** The stored meta row, if the artifact has a readable one. A
    * missing, torn or unparseable row — or one in the old
    * parquet-directory form — reads as absent, so the artifact
    * rebuilds.
    */
  private[graft] def readMeta(s: SparkSession, root: String): Option[(Long, Long, Long)] =
    try SnapshotStore.readSidecar(s, metaPath(root)).collect {
      case MetaRow(v, n, sig) => (v.toLong, n.toLong, sig.toLong)
    } catch { case _: Exception => None }

  /** True iff the stored artifact at `root` was built from exactly the
    * current corpus under the current layout version.
    */
  private[graft] def metaFresh(s: SparkSession, root: String,
      sig: (Long, Long)): Boolean =
    readMeta(s, root).contains((MetaVersion, sig._1, sig._2))

  // ---- THE freshness protocol every standing artifact goes through --

  /** Validate-build-commit: unless the meta row at `root` already
    * matches `sig`, run `build` and then write the meta row. Returns
    * whether it built.
    *
    * The meta row is written LAST and is the artifact's commit marker:
    * a build that dies partway leaves a stale or missing row, which
    * never validates as fresh, so the next call rebuilds instead of
    * trusting a partial artifact. `build` may read the old row (the
    * incremental families fold from it); clearing old files is the
    * build's business.
    */
  def refresh(s: SparkSession, root: String, sig: (Long, Long))(
      build: => Unit): Boolean =
    !metaFresh(s, root, sig) && { build; writeMeta(s, root, sig); true }

  /** Fold an artifact's layout version into its content signature: the
    * stored files are a function of the inputs AND the recipe, so a
    * recipe change without a data change must invalidate the store.
    */
  def withLayout(sig: (Long, Long), layout: Long): (Long, Long) =
    (sig._1, Math.floorMod(sig._2 + layout, SigMod))

  /** The once-per-session latch of [[ensureArtifact]]: its presence for
    * (session, root) means this session already validated the artifact.
    */
  private val latch = new graft.SessionCache

  /** Run `validate` — the family's [[refresh]] plus any per-session step
    * next to it — once per (session, root), and return `root`. A
    * `validate` that throws sets no latch, so the next call retries.
    */
  def ensureArtifact(s: SparkSession, root: String)(validate: => Unit): String = {
    latch.getOrElseUpdate(s, root) { validate; s.emptyDataFrame }
    root
  }

  /** Force the next [[ensureArtifact]] on `root` to rebuild: drop the
    * meta row and this session's latch. The build queries (q156, q165
    * under [[SimIndex.RebuildKey]]) rebuild through the same path.
    */
  private[graft] def invalidate(s: SparkSession, root: String): Unit = {
    val p = metaPath(root)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    latch.remove(s, root)
  }

  /** Make the index artifact available and return its root — reused
    * across sessions while the corpus signature matches (the build
    * queries q156 at 2.5 s/session were the biggest recurring cost of
    * the old rebuild-always discipline); regenerated fixtures, a
    * poisoned write or a layout version bump rebuild.
    * ArtifactReuseSpec pins both directions.
    */
  def ensure(s: SparkSession, dir: String): String =
    ensureArtifact(s, indexRoot(dir))(ensureValidated(s, dir))

  /** The validation+build step a NEW session runs (exposed so the spec
    * can replay "next session" without constructing one).
    */
  private[graft] def ensureValidated(s: SparkSession, dir: String): Unit =
    refresh(s, indexRoot(dir), inputSig(s, dir, Seq("documents")))(build(s, dir))

  /** One corpus scan → the three persisted tables. ONE artifact write
    * path: the one-shot build IS a single-segment overwrite through the
    * same writer q160's delta append uses.
    */
  private def build(s: SparkSession, dir: String): Unit =
    writeSegment(
      Engine.table(s, dir, "documents").withColumn("tok", expr(LlmOps.toksS)),
      indexRoot(dir), "overwrite")

  /** Stored postings under an artifact root, partition column re-typed
    * to the write side's long (partition-value inference yields ints).
    */
  private[graft] def readPostings(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"$root/postings")
      .withColumn("pbucket", col("pbucket").cast("long"))

  /** The terms' shard buckets, computed from the same hash the build
    * used — literal values, so the postings filter folds to a
    * partition-pruning predicate (only the matching `pbucket=` dirs
    * are read).
    */
  private def bucketsOf(s: SparkSession, terms: Seq[String]): Seq[Long] = {
    val row = s.sql("SELECT " + terms.zipWithIndex.map { case (t, i) =>
      s"pmod(stable_hash64('idx:$t'), $NumIndexBuckets) AS b$i"
    }.mkString(", ")).first()
    terms.indices.map(row.getLong(_)).distinct
  }

  /** q156: the index BUILD as a verifiable query — write (or rewrite)
    * the artifact and emit the per-bucket manifest. The oracle
    * recomputes term→bucket assignment, postings counts, and per-bucket
    * term/doc cardinalities from the raw corpus, so a hash match
    * value-checks that the persisted artifact partitions every posting
    * of every term into exactly the directory a lookup will prune to —
    * the routing invariant the whole standing-index scheme rests on.
    *
    * Scale shape: ONE tokenize+posexplode scan (map-side), ONE
    * repartition by the 16-ary content-derived bucket (AQE re-balances
    * skewed buckets), in-partition sort bounded by bucket size; the
    * manifest aggregation reads the artifact back, not the corpus.
    */
  val q156IndexBuild: Q = (s, dir) => {
    invalidate(s, indexRoot(dir))
    readPostings(s, ensure(s, dir))
      .groupBy(col("pbucket"))
      .agg(countDistinct(col("token")).as("n_terms"),
        count(lit(1)).as("n_postings"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("pbucket"))
  }

  /** q157: BM25 as a standing-index LOOKUP — the q80 ranking computed
    * without touching the corpus: the query terms' buckets prune the
    * postings read, tf comes from posting counts, dl from the stored
    * lengths table, (N, avgdl) from the stored stats row. Output is
    * byte-identical to q80 (same oracle, reused verbatim).
    *
    * Scale shape: reads |terms| partition dirs of the postings table
    * (partition pruning), tf is a (doc, term)-grained aggregate of
    * matching postings only, the lengths join touches only scoring
    * docs (AQE broadcasts the small side), stats is a 1-row broadcast,
    * and the top-k is TakeOrderedAndProject. The corpus text is never
    * scanned.
    */
  val q157IndexBm25: Q = (s, dir) =>
    bm25Lookup(s, ensure(s, dir))

  /** BM25 over a stored index artifact root — shared by q157 (the
    * one-shot q156 artifact) and StandingIndexSpec's lookup-equality
    * check over the q160 incremental artifact. `stats` is summed
    * across segment rows (one row for a one-shot build, one per
    * appended segment for the incremental one — the LSM-manifest
    * contract).
    */
  private[graft] def bm25Lookup(s: SparkSession, root: String): DataFrame = {
    val terms = LlmOps.Bm25Terms
    val post = readPostings(s, root)
      .filter(col("pbucket").isin(bucketsOf(s, terms): _*) &&
        col("token").isin(terms: _*))
    val tf = post.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val lengths = s.read.parquet(s"$root/lengths")
    val stats = s.read.parquet(s"$root/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
      .select(col("n_docs").cast("double").as("n"),
        (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    val df = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(lengths, Seq("doc_id"))
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib",
        log(lit(1.0) + (col("n") - col("df").cast("double") + 0.5) /
            (col("df").cast("double") + 0.5)) *
          (col("tf").cast("double") * (LlmOps.Bm25K1 + 1.0)) /
          (col("tf").cast("double") +
            lit(LlmOps.Bm25K1) * (lit(1.0 - LlmOps.Bm25B) +
              lit(LlmOps.Bm25B) * col("dl").cast("double") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(LlmOps.Bm25TopK)
  }

  /** q158: phrase search as a standing-index LOOKUP — q151's
    * positional adjacency algebra (P₁ ∩ (P₂−1) ∩ (P₃−2)) over the
    * STORED postings instead of a per-query corpus re-explode; the
    * per-term equi-fetch its scaladoc promised. Output is
    * byte-identical to q151 (same oracle, reused verbatim — and that
    * oracle rescans raw token arrays, so the match proves
    * index-lookup == sequential text scan end to end).
    *
    * Scale shape: partition-pruned read of the 3 terms' buckets,
    * row-group pruning on the in-bucket token sort, ONE per-doc pivot
    * of term-frequency-bounded groups, array arithmetic for
    * adjacency — no join back to the text.
    */
  val q158IndexPhrase: Q = (s, dir) => {
    val terms = IndexOps.PhraseTerms
    val Seq(w1, w2, w3) = terms
    val root = ensure(s, dir)
    val post = readPostings(s, root)
      .filter(col("pbucket").isin(bucketsOf(s, terms): _*) &&
        col("token").isin(terms: _*))
    val byDoc = post.groupBy(col("doc_id"))
      .agg(
        collect_list(when(col("token") === w1, col("pos"))).as("p1"),
        collect_list(when(col("token") === w2, col("pos"))).as("p2"),
        collect_list(when(col("token") === w3, col("pos"))).as("p3"))
    byDoc
      .withColumn("occ", array_intersect(
        array_intersect(col("p1"), expr("transform(p2, x -> x - 1)")),
        expr("transform(p3, x -> x - 2)")))
      .filter(size(col("occ")) > 0)
      .select(col("doc_id"),
        size(col("occ")).cast("long").as("n_occ"),
        array_min(col("occ")).cast("long").as("first_pos"))
      .orderBy(col("doc_id"))
  }

  /** q160: hash residue (of [[IncDeltaMod]]) that plays the late-arriving
    * delta segment — ~10% of the corpus.
    */
  val IncDeltaMod = 10

  /** Fold modulus for the per-bucket postings signature: per-posting
    * hashes fold mod 1e9 before the sum so the bucket total stays far
    * from Long overflow (DuckDB would promote an unbounded BIGINT sum
    * to HUGEINT and type-mismatch) while remaining collision-tight as
    * a multiset check.
    */
  val SigMod = 1000000000L

  /** q160: INCREMENTAL index maintenance — the update path the build's
    * scaladoc promises an incremental indexer must preserve. A
    * hash-derived ~90% "base" corpus is indexed first (the standing
    * artifact), then the remaining ~10% "delta" segment is APPENDED:
    * delta postings land in the same content-derived `pbucket`
    * directories (a term's bucket is a pure function of the term, so a
    * delta append never relocates existing postings — the property that
    * makes the merge a file append instead of a rewrite), and
    * lengths/stats gain a segment row each (readers sum segments, the
    * LSM-style manifest shape).
    *
    * The emitted per-bucket manifest carries term/posting/doc counts
    * AND a position-level multiset signature (Σ hash(token|doc|pos)
    * mod [[SigMod]]), and the ORACLE computes the same from the full
    * corpus in one pass — it never sees the split — so a hash match
    * proves incremental-append == from-scratch rebuild down to every
    * individual (token, doc_id, pos) posting, not just counts.
    *
    * Scale shape: the delta pass tokenizes ONLY delta docs (at 100 TB
    * the delta is a day's crawl, not the corpus), one repartition by
    * bucket per segment, and the routing invariant means lookups prune
    * identically before and after the merge (StandingIndexSpec asserts
    * lookup equality over the merged artifact).
    */
  /** Bucketed positional postings of a (doc_id, tok) slice — the unit
    * a segment write persists and a manifest aggregates.
    */
  private[graft] def postingsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), posexplode(col("tok")).as(Seq("pos", "token")))
      .withColumn("pbucket",
        pmod(expr(LlmOps.hashS("concat('idx:', token)")), lit(NumIndexBuckets)))

  /** Persist one corpus slice as an index segment (postings into the
    * shared bucket dirs, one lengths slice, one stats row). `overwrite`
    * starts a fresh artifact; `append` is the incremental update —
    * bucket assignment is a pure function of the term, so an append
    * never relocates existing postings. Shared by q160 and the
    * streaming maintenance twin (StreamingIndexSpec).
    */
  private[graft] def writeSegment(d: DataFrame, root: String, mode: String): Unit = {
    postingsOf(d)
      .repartition(col("pbucket"))
      // pbucket leads for the same writer-required-ordering reason as
      // q168's compaction sort (ADVICE r10)
      .sortWithinPartitions(col("pbucket"), col("token"), col("doc_id"), col("pos"))
      .write.mode(mode).partitionBy("pbucket").parquet(s"$root/postings")
    d.select(col("doc_id"), size(col("tok")).cast("long").as("dl"))
      .write.mode(mode).parquet(s"$root/lengths")
    d.agg(count(lit(1)).as("n_docs"),
        sum(size(col("tok"))).cast("long").as("sum_dl"))
      .write.mode(mode).parquet(s"$root/stats")
  }

  /** Per-bucket manifest with the position-level multiset signature —
    * computable over stored postings (q160's read-back) or directly
    * over a postings DataFrame (the spec's from-raw comparison).
    * `extra` aggregates share the grouped pass (q168's per-bucket file
    * count).
    */
  private[graft] def manifestOf(
      postings: DataFrame, extra: org.apache.spark.sql.Column*): DataFrame =
    postings
      .groupBy(col("pbucket"))
      .agg(countDistinct(col("token")).as("n_terms"),
        (Seq(count(lit(1)).as("n_postings"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(pmod(expr(LlmOps.hashS(
            "concat('pst:', token, '|', CAST(doc_id AS STRING), '|', CAST(pos AS STRING))")),
            lit(SigMod))).as("postings_sig")) ++ extra): _*)
      .orderBy(col("pbucket"))

  /** Build (or reuse) the two-segment incremental artifact at
    * `<indexRoot>_inc` — q160's base-overwrite + delta-append pair —
    * and return its root. Latched per session, so q168's compaction
    * consumes the very artifact q160 built instead of re-tokenizing the
    * corpus a third time; across sessions it is reused like [[ensure]]
    * (the two-segment artifact is equally a pure function of the
    * corpus).
    */
  private[graft] def ensureIncremental(s: SparkSession, dir: String): String = {
    val root = s"${indexRoot(dir)}_inc"
    ensureArtifact(s, root)(refresh(s, root, inputSig(s, dir, Seq("documents"))) {
      val docs = Engine.table(s, dir, "documents")
        .withColumn("tok", expr(LlmOps.toksS))
        .withColumn("is_delta",
          pmod(expr(LlmOps.hashS("concat('seg:', CAST(doc_id AS STRING))")),
            lit(IncDeltaMod)) === (IncDeltaMod - 1))
      writeSegment(docs.filter(!col("is_delta")), root, "overwrite")
      writeSegment(docs.filter(col("is_delta")), root, "append")
    })
  }

  val q160IndexDelta: Q = (s, dir) =>
    manifestOf(readPostings(s, ensureIncremental(s, dir)))

  /** q168: segment COMPACTION — the third act of the LSM lifecycle the
    * standing index already exercises (q156 build, q160 append): fold
    * the incremental artifact's accumulated segments back into ONE
    * sorted file per term bucket and ONE corpus-level stats row, the
    * maintenance pass a real index runs when segment counts (and with
    * them per-lookup file opens and row-group seeks) grow past a
    * threshold. Compaction writes a fresh artifact root and leaves the
    * input segments untouched — the swap-not-rewrite discipline that
    * keeps readers consistent while the compactor runs.
    *
    * The emitted manifest carries the same position-level multiset
    * signature as q160, computed from the COMPACTED artifact, and the
    * oracle recomputes it from the raw corpus in one pass — a hash
    * match proves compaction preserved every individual (token,
    * doc_id, pos) posting. The `n_files` / `n_stats_segments` columns
    * are read back from the compacted artifact itself
    * (`input_file_name()` / stats row count) while the oracle pins
    * them at literal 1: the single-file-per-bucket, single-stats-row
    * POST-state is oracle-encoded, so a compactor that merely copies
    * segments (or splits buckets across tasks) reds the gate.
    *
    * Scale shape: one shuffle keyed by the 16-ary bucket (each bucket's
    * postings land wholly in one task, so the per-bucket output is ONE
    * file by construction), in-task sort bounded by bucket size,
    * lengths/stats folds over segment-count-sized inputs; the corpus
    * text is never touched. StandingIndexSpec asserts the physical
    * invariants (file counts actually shrink; lookups over the
    * compacted root equal the incremental and one-shot roots).
    */
  /** The postings-compaction physical pass — one shuffle keyed by the
    * bucket, in-task sort, one file per bucket by construction. Shared
    * by q168 and the Zipf skew stress (StandingIndexSkewSpec), so the
    * stressed path IS the shipped path.
    */
  private[graft] def compactPostings(s: SparkSession, from: String,
      to: String): Unit =
    readPostings(s, from)
      .repartition(col("pbucket"))
      // pbucket leads the sort: the dynamic-partition writer REQUIRES
      // its partition column ordered within each task — leading with it
      // satisfies that requirement directly, so no writer-inserted
      // re-sort sits between this sort and the files, and the in-file
      // (token, doc_id, pos) order is guaranteed by THIS sort rather
      // than by the stability of an implementation-detail re-sort
      // (ADVICE r10)
      .sortWithinPartitions(col("pbucket"), col("token"), col("doc_id"), col("pos"))
      .write.mode("overwrite").partitionBy("pbucket").parquet(s"$to/postings")

  val q168IndexCompact: Q = (s, dir) => {
    val inc = ensureIncremental(s, dir)
    val root = s"${indexRoot(dir)}_cmp"
    compactPostings(s, inc, root)
    s.read.parquet(s"$inc/lengths").repartition(1)
      .write.mode("overwrite").parquet(s"$root/lengths")
    s.read.parquet(s"$inc/stats")
      .agg(sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("sum_dl")).cast("long").as("sum_dl"))
      .write.mode("overwrite").parquet(s"$root/stats")
    val statsSegs = s.read.parquet(s"$root/stats")
      .agg(count(lit(1)).as("n_stats_segments"))
    // ONE read of the just-written artifact: the per-bucket file count
    // shares the manifest's grouped pass (input_file_name projected
    // first — it may not appear inside an aggregate function)
    manifestOf(
        readPostings(s, root).withColumn("f", input_file_name()),
        countDistinct(col("f")).as("n_files"))
      .crossJoin(broadcast(statsSegs))
      .orderBy(col("pbucket"))
  }

  val queries: Map[String, Q] = Map(
    "q156_index_build" -> q156IndexBuild,
    "q157_index_bm25" -> q157IndexBm25,
    "q158_index_phrase" -> q158IndexPhrase,
    "q160_index_delta" -> q160IndexDelta,
    "q168_index_compact" -> q168IndexCompact)

  /** q157/q158 reuse the q80/q151 oracles verbatim: the lookup output
    * contract IS "identical to the scan-path query", and the shared
    * oracle makes that a value check, not a convention.
    */
  val oracles: Map[String, String] = Map(
    "q156_index_build" -> {
      val h = LlmOps.hashD("'idx:' || token")
      s"""WITH toks AS (
        |  SELECT doc_id, r.i - 1 AS pos, tok[r.i] AS token
        |  FROM (SELECT doc_id, ${LlmOps.toksD} AS tok FROM documents),
        |    LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
        |b AS (SELECT doc_id, pos, token,
        |        $h % $NumIndexBuckets AS pbucket FROM toks)
        |SELECT pbucket, CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
        |  CAST(count(*) AS BIGINT) AS n_postings,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM b GROUP BY pbucket ORDER BY pbucket""".stripMargin
    },
    "q157_index_bm25" -> LlmOps.oracles("q80_bm25"),
    "q158_index_phrase" -> IndexOps.oracles("q151_phrase_search"),
    // the q160/q168 oracle scans the FULL corpus in one pass — it never
    // sees the base/delta split (or the compaction), so a match proves
    // incremental-append == rebuild and compaction == rebuild, posting
    // by posting
    "q160_index_delta" -> signedManifestOracle(""),
    // q168 additionally oracle-encodes the compaction POST-state: one
    // postings file per bucket, one stats row (see q168's scaladoc)
    "q168_index_compact" -> signedManifestOracle(
      ",\n  CAST(1 AS BIGINT) AS n_files, CAST(1 AS BIGINT) AS n_stats_segments"))

  /** Full-corpus one-pass recompute of the signed per-bucket manifest —
    * the shared ground truth q160 (incremental append) and q168
    * (compaction) are both hash-checked against. `extra` appends
    * literal columns for oracle-encoded physical invariants.
    */
  private def signedManifestOracle(extra: String): String = {
    val hb = LlmOps.hashD("'idx:' || token")
    val hp = LlmOps.hashD(
      "'pst:' || token || '|' || CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)")
    s"""WITH toks AS (
      |  SELECT doc_id, r.i - 1 AS pos, tok[r.i] AS token
      |  FROM (SELECT doc_id, ${LlmOps.toksD} AS tok FROM documents),
      |    LATERAL unnest(range(1, len(tok) + 1)) AS r(i)),
      |b AS (SELECT doc_id, pos, token,
      |        $hb % $NumIndexBuckets AS pbucket FROM toks)
      |SELECT pbucket, CAST(count(DISTINCT token) AS BIGINT) AS n_terms,
      |  CAST(count(*) AS BIGINT) AS n_postings,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(sum($hp % $SigMod) AS BIGINT) AS postings_sig$extra
      |FROM b GROUP BY pbucket ORDER BY pbucket""".stripMargin
  }
}
