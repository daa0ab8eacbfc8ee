package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Multimodal-column plumbing (SURVEY.md §2B extension; builder brief):
  * image/audio/video as opaque `binary` columns with typed metadata,
  * processed by a batched decode/feature-extract stage.
  *
  * The Spark-side plumbing is real and tested: a typed Dataset of
  * (doc_id, mime, payload bytes), `mapPartitions` with an explicit batch
  * loop (the Scala analog of a vectorized/Pandas UDF: decode cost is
  * amortized per batch, memory is bounded by batch size, and the stage
  * is embarrassingly parallel per partition — exactly the shape a 100 TB
  * media pipeline needs). The DECODE ITSELF IS A STUB: the container has
  * no image/audio codecs, so `decodeBatch` computes deterministic fake
  * features derived from the raw bytes (documented below) instead of
  * invoking a codec. Swap `decodeBatch`'s body for a real codec call and
  * nothing else changes.
  */
object Multimodal {

  /** Input row: media payload + typed metadata. */
  case class MediaRow(doc_id: Long, mime: String, payload: Array[Byte])

  /** Output row of the decode/feature stage. */
  case class MediaFeatures(
      doc_id: Long,
      mime: String,
      n_bytes: Long,
      checksum: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      h0: Long, h1: Long, h2: Long, h3: Long,
      h4: Long, h5: Long, h6: Long, h7: Long)

  /** Batch size for the decode loop — the unit a real codec would be
    * handed (mirrors pandas-UDF batch shape).
    */
  val DecodeBatchSize = 64

  /** STUB decode: deterministic fake features from raw bytes.
    *   checksum  = sum of unsigned byte values
    *   width     = 1 + checksum % 640, height = 1 + checksum % 480
    *   n_frames  = 1 for images; 1 + n_bytes/1000 for audio/video
    *   h0..h7    = histogram of (byte >>> 5) buckets
    * A real implementation would replace ONLY this function with a codec
    * (e.g. javax.imageio / ffmpeg bindings) — signature unchanged.
    */
  def decodeBatch(batch: Seq[MediaRow]): Seq[MediaFeatures] = batch.map { r =>
    val bytes = r.payload
    var checksum = 0L
    val hist = new Array[Long](8)
    var i = 0
    while (i < bytes.length) {
      val u = bytes(i) & 0xff
      checksum += u
      hist(u >>> 5) += 1
      i += 1
    }
    val frames =
      if (r.mime == "image/png") 1 else (1 + bytes.length / 1000)
    MediaFeatures(r.doc_id, r.mime, bytes.length.toLong, checksum,
      1 + (checksum % 640).toInt, 1 + (checksum % 480).toInt, frames,
      hist(0), hist(1), hist(2), hist(3), hist(4), hist(5), hist(6), hist(7))
  }

  /** Build the media table from documents: payload = utf8 bytes of text
    * (a deterministic stand-in for real blobs), mime assigned by
    * doc_id % 3. At scale this would be `spark.read.format("binaryFile")`
    * or a parquet table with a binary column — the downstream stages are
    * identical.
    */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Engine.table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRow]
  }

  /** The decode/feature pipeline: batched mapPartitions over the typed
    * Dataset. No shuffle — narrow, codegen-boundary only at the typed
    * map; output is a DataFrame ready for relational post-processing.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.grouped(DecodeBatchSize).flatMap(b => decodeBatch(b))
    }
  }

  /** q51: the full multimodal pipeline as a declared query (oracle
    * mirrors the stub arithmetic over char codes — payloads are ASCII).
    */
  val q51MediaFeatures: (SparkSession, String) => DataFrame = (s, dir) =>
    extractFeatures(mediaTable(s, dir)).toDF().orderBy(col("doc_id"))

  /** q53: frame sampling + resize planning over the decoded media —
    * every video/audio frame becomes a row (posexplode over the frame
    * range), with a deterministic per-frame feature (stable hash of
    * doc:frame — where a codec would emit the frame embedding) and the
    * resize-target dims (fit into 224×224 preserving aspect). The
    * explode shape is the real thing: frame extraction at scale IS
    * an explode from media rows to frame rows.
    */
  /** Decoded frame rows with resize targets — q53's derivation, shared
    * with q171's batch packer (which additionally needs `mime`).
    */
  private def frameRows(s: SparkSession, dir: String): DataFrame = {
    extractFeatures(mediaTable(s, dir)).toDF()
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        posexplode(expr("sequence(1, n_frames)")).as(Seq("pos", "frame_no")))
      .withColumn("frame_hash",
        expr(s"stable_hash64(concat(doc_id, ':', frame_no)) % 1000000"))
      .withColumn("scale",
        least(lit(224.0) / col("width"), lit(224.0) / col("height"), lit(1.0)))
      .withColumn("out_w",
        greatest(lit(1L), floor(col("width") * col("scale"))).cast("int"))
      .withColumn("out_h",
        greatest(lit(1L), floor(col("height") * col("scale"))).cast("int"))
  }

  val q53MediaFrames: (SparkSession, String) => DataFrame = (s, dir) =>
    frameRows(s, dir)
      .select(col("doc_id"), col("frame_no").cast("int").as("frame_no"),
        col("frame_hash"), col("out_w"), col("out_h"))
      .orderBy(col("doc_id"), col("frame_no"))

  /** q171 batch capacity: decoded RGB bytes per inference batch. At
    * 224×224×3 ≈ 147 KB per max-size frame this packs ~4–30 frames a
    * batch on the fixture's dimension mix.
    */
  val PackCapBytes = 524288L

  /** Deterministic pack shards per bucket — the fixture stand-in for
    * "one packer per ingest partition"; production sizes this to keep
    * each shard's frame list task-local.
    */
  val PackShards = 4

  /** q171: INFERENCE BATCH PACKING — the step between decode and a GPU
    * model in a multimodal pipeline: frames are grouped by modality and
    * resized-resolution bucket (a batched model wants uniform shapes),
    * then packed greedily into batches capped by decoded-byte budget
    * (batch memory is the binding constraint, and frame bytes vary with
    * the resize target). The packing is the q133 running-sum
    * discipline: frames order by (doc_id, frame_no) within a
    * (mime, bucket, shard) group and `batch = cumulative_bytes_before
    * div cap`, so batch assignment is a pure function of the corpus —
    * reproducible across runs, engines, partitionings.
    *
    * The `shard` level is the scale story: a real packer never packs a
    * corpus-wide sequence — it packs per ingest shard, so no ordering
    * window ever sees more than one shard's frames. Here the shard is
    * a deterministic doc-hash residue ([[PackShards]]-ary at fixture
    * scale), bounding every window partition at corpus/(buckets·shards)
    * rows; production raises the shard count with the corpus, keeping
    * the per-task frame list constant — batches simply never cross
    * shards, exactly like the real system.
    *
    * Output is the per-batch manifest (frame count, decoded bytes, doc
    * span). Greedy-packing tightness is pinned by MultimodalSpec:
    * every batch holds ≤ cap + one frame, every non-final batch ≥ cap
    * − one frame.
    */
  val q171MediaBatches: (SparkSession, String) => DataFrame = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val fr = frameRows(s, dir)
      .withColumn("rbucket", expr("(out_w div 32) * 8 + (out_h div 32)"))
      .withColumn("shard", expr(
        s"pmod(stable_hash64(concat('pk:', CAST(doc_id AS STRING))), $PackShards)"))
      .withColumn("fbytes", (col("out_w") * col("out_h") * 3).cast("long"))
    val w = Window.partitionBy(col("mime"), col("rbucket"), col("shard"))
      .orderBy(col("doc_id"), col("frame_no"))
      .rowsBetween(Window.unboundedPreceding, -1)
    fr.withColumn("cum0", coalesce(sum(col("fbytes")).over(w), lit(0L)))
      .withColumn("batch_no", expr(s"cum0 div ${PackCapBytes}L"))
      .groupBy(col("mime"), col("rbucket"), col("shard"), col("batch_no"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("fbytes")).cast("long").as("batch_bytes"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("mime"), col("rbucket"), col("shard"), col("batch_no"))
  }

  /** q66: ingestion validation + quarantine — the gate a multimodal
    * pipeline applies before paying for decode: payload size bounds,
    * known-mime check, leading-byte sanity. Every doc gets a verdict
    * and the FIRST failing check as its quarantine reason (deterministic
    * check order), so the quarantine table is auditable. Narrow,
    * map-side, runs before any codec cost.
    */
  val q66MediaQuarantine: (SparkSession, String) => DataFrame = (s, dir) => {
    // wider mime universe than mediaTable's %3 so the unknown-mime gate
    // actually fires on fixture data (every 7th doc arrives with a type
    // the decode stage doesn't support)
    Engine.table(s, dir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, "application/octet-stream")
          .when(col("doc_id") % 3 === 0, "image/png")
          .when(col("doc_id") % 3 === 1, "audio/wav")
          .otherwise("video/mp4").as("mime"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        ascii(col("text")).as("first_code"))
      .withColumn("reason",
        when(col("n_bytes") < 10, "too_small")
          .when(col("n_bytes") > 100000, "too_large")
          .when(!col("mime").isin("image/png", "audio/wav", "video/mp4"),
            "unknown_mime")
          .when(col("first_code") < 32 || col("first_code") > 126,
            "non_ascii_start")
          .otherwise("ok"))
      .select(col("doc_id"), col("mime"), col("n_bytes"), col("reason"),
        (col("reason") === "ok").cast("bigint").as("is_valid"))
      .orderBy(col("doc_id"))
  }

  /** Shared oracle CTE chain mirroring [[frameRows]] — the mime map,
    * decode-stub checksum/dims, frame explode, and resize scale; ONE
    * definition consumed by both the q53 and q171 oracles (mime is
    * carried through; q53's final projection simply ignores it).
    */
  private val mediaFrameCtesD =
    """m AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |    octet_length(encode(text)) AS n_bytes,
      |    CAST(list_aggregate(list_transform(range(1, length(text) + 1), i -> ord(substring(text, i, 1))), 'sum') AS BIGINT) AS checksum
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, mime,
      |    CAST(1 + checksum % 640 AS INT) AS width,
      |    CAST(1 + checksum % 480 AS INT) AS height,
      |    CAST(CASE WHEN mime = 'image/png' THEN 1 ELSE 1 + n_bytes // 1000 END AS INT) AS n_frames
      |  FROM m),
      |fr AS (
      |  SELECT doc_id, mime, width, height,
      |    unnest(generate_series(1, n_frames)) AS frame_no FROM f),
      |sc AS (
      |  SELECT *, least(224.0 / width, 224.0 / height, 1.0) AS scale FROM fr)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q51_media_features" -> q51MediaFeatures,
    "q53_media_frames" -> q53MediaFrames,
    "q66_media_quarantine" -> q66MediaQuarantine,
    "q171_media_batches" -> q171MediaBatches)

  val oracles: Map[String, String] = Map(
    "q66_media_quarantine" ->
      """SELECT doc_id, mime, n_bytes, reason,
        |  CAST(reason = 'ok' AS BIGINT) AS is_valid
        |FROM (
        |  SELECT doc_id, mime, n_bytes,
        |    CASE WHEN n_bytes < 10 THEN 'too_small'
        |         WHEN n_bytes > 100000 THEN 'too_large'
        |         WHEN mime NOT IN ('image/png', 'audio/wav', 'video/mp4') THEN 'unknown_mime'
        |         WHEN first_code < 32 OR first_code > 126 THEN 'non_ascii_start'
        |         ELSE 'ok' END AS reason
        |  FROM (
        |    SELECT doc_id,
        |      CASE WHEN doc_id % 7 = 0 THEN 'application/octet-stream'
        |           WHEN doc_id % 3 = 0 THEN 'image/png'
        |           WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |           ELSE 'video/mp4' END AS mime,
        |      CAST(strlen(text) AS BIGINT) AS n_bytes,
        |      ord(substring(text, 1, 1)) AS first_code
        |    FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "q51_media_features" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |         ELSE 'video/mp4' END AS mime,
        |    text,
        |    octet_length(encode(text)) AS n_bytes,
        |    list_transform(range(1, length(text) + 1), i -> ord(substring(text, i, 1))) AS codes
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, mime, n_bytes,
        |    CAST(list_aggregate(codes, 'sum') AS BIGINT) AS checksum,
        |    codes
        |  FROM m)
        |SELECT doc_id, mime, n_bytes, checksum,
        |  CAST(1 + checksum % 640 AS INT) AS width,
        |  CAST(1 + checksum % 480 AS INT) AS height,
        |  CAST(CASE WHEN mime = 'image/png' THEN 1 ELSE 1 + n_bytes // 1000 END AS INT) AS n_frames,
        |  CAST(len(list_filter(codes, c -> c // 32 = 0)) AS BIGINT) AS h0,
        |  CAST(len(list_filter(codes, c -> c // 32 = 1)) AS BIGINT) AS h1,
        |  CAST(len(list_filter(codes, c -> c // 32 = 2)) AS BIGINT) AS h2,
        |  CAST(len(list_filter(codes, c -> c // 32 = 3)) AS BIGINT) AS h3,
        |  CAST(len(list_filter(codes, c -> c // 32 = 4)) AS BIGINT) AS h4,
        |  CAST(len(list_filter(codes, c -> c // 32 = 5)) AS BIGINT) AS h5,
        |  CAST(len(list_filter(codes, c -> c // 32 = 6)) AS BIGINT) AS h6,
        |  CAST(len(list_filter(codes, c -> c // 32 = 7)) AS BIGINT) AS h7
        |FROM f ORDER BY doc_id""".stripMargin,
    "q53_media_frames" ->
      s"""WITH $mediaFrameCtesD
        |SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
        |  (('0x' || substring(md5(doc_id || ':' || frame_no),1,15))::BIGINT) % 1000000 AS frame_hash,
        |  CAST(greatest(1, floor(width * scale)) AS INT) AS out_w,
        |  CAST(greatest(1, floor(height * scale)) AS INT) AS out_h
        |FROM sc ORDER BY doc_id, frame_no""".stripMargin,
    // q171: the frame derivation is the SHARED q53 CTE chain (one
    // definition — a change to the decode stub's mirror cannot leave
    // the two oracles disagreeing), then the pack arithmetic — shard
    // hash, cumulative bytes BEFORE each frame (ROWS ... 1 PRECEDING),
    // batch = cum0 // cap — in the same integer math as the engine's
    // window
    "q171_media_batches" ->
      s"""WITH $mediaFrameCtesD,
        |fx AS (
        |  SELECT doc_id, mime, CAST(frame_no AS BIGINT) AS frame_no,
        |    CAST(greatest(1, floor(width * scale)) AS BIGINT) AS out_w,
        |    CAST(greatest(1, floor(height * scale)) AS BIGINT) AS out_h
        |  FROM sc),
        |pk AS (
        |  SELECT doc_id, mime, frame_no,
        |    (out_w // 32) * 8 + (out_h // 32) AS rbucket,
        |    (('0x' || substring(md5('pk:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT) % $PackShards AS shard,
        |    out_w * out_h * 3 AS fbytes
        |  FROM fx),
        |cum AS (
        |  SELECT *, coalesce(CAST(sum(fbytes) OVER (
        |      PARTITION BY mime, rbucket, shard ORDER BY doc_id, frame_no
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
        |    0) AS cum0
        |  FROM pk)
        |SELECT mime, rbucket, shard, cum0 // $PackCapBytes AS batch_no,
        |  CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(fbytes) AS BIGINT) AS batch_bytes,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM cum GROUP BY 1, 2, 3, 4
        |ORDER BY mime, rbucket, shard, batch_no""".stripMargin)
}
