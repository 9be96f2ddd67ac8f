package graft.ops

import graft.functions.CrossHash
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media payloads ride as opaque
  * `BINARY` columns with typed metadata, and decode/feature-extract
  * runs as a batched `mapPartitions` over a typed Dataset — the
  * JVM analog of a vectorized (Arrow-batch) decode UDF: schema,
  * partitioning, batch shape and the executor-side batching are
  * real. Image decode is REAL for PNG/JPEG/GIF/BMP via the JDK's
  * own codec (`javax.imageio`, header-only read — dimensions and
  * format without decoding pixels); the deterministic stub remains
  * only as the fallback for payloads no installed codec recognizes
  * (e.g. the fixtures' text bytes, or audio/video whose codecs this
  * container lacks).
  */
object Multimodal extends QueryModule {
  import Tables.t

  case class MediaRecord(doc_id: Long, payload: Array[Byte])
  case class MediaMeta(
      doc_id: Long, byte_len: Long, width: Int, height: Int,
      format: String, checksum: Long)

  /** Decode batch size — mirrors the reference's GPU encode batch of
    * 32 (log-vector `index.py:105`): media codecs amortize setup per
    * batch, so the iterator is consumed in groups even though the
    * stub is per-record. */
  val DecodeBatch = 32

  /** Payload checksum = the cross-engine 60-bit md5 hash — also the
    * entropy source for the stub codec, so the whole metadata row is
    * DuckDB-recomputable on text-byte fixtures. */
  private def checksum60(payload: Array[Byte]): Long = CrossHash.md5Hash60(payload)

  /** REAL image header decode via the JDK ImageIO codec: reader
    * lookup by magic bytes, then width/height/format from the header
    * alone (no pixel decode — O(header) per record, the right cost
    * for a metadata pass over 100 TB of media). The ImageIO plugin
    * registry is JVM-global, i.e. a per-executor singleton with the
    * same lifecycle as the embedder model cache. */
  private[ops] def decodeHeader(payload: Array[Byte]): Option[(Int, Int, String)] = {
    if (payload == null || payload.length == 0) return None
    var iis: javax.imageio.stream.ImageInputStream = null
    try {
      iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          Some((r.getWidth(0), r.getHeight(0), r.getFormatName.toLowerCase))
        } finally r.dispose()
      }
    } catch {
      case _: Exception => None
    } finally if (iis != null) iis.close()
  }

  /** STUB CODEC fallback: deterministic fake decode derived from the
    * already-computed payload checksum (one hash pass per record) —
    * used only when no installed codec recognizes the payload. A
    * real deployment adds audio/video codecs beside ImageIO;
    * nothing else in the pipeline changes. The checksum is already
    * md5-mixed, so plain shifts/mods suffice — and stay expressible
    * in the DuckDB oracle. */
  private def decodeStub(checksum: Long): (Int, Int, String) = {
    val width = 64 + (checksum % 1857L).toInt
    val height = 64 + ((checksum >> 17) % 1017L).toInt
    val formats = Array("png", "jpeg", "webp")
    val format = formats(((checksum >> 41) % 3L).toInt)
    (width, height, format)
  }

  /** Batched decode: Dataset[MediaRecord] → Dataset[MediaMeta].
    * Map-only (no shuffle); `grouped(DecodeBatch)` gives the codec
    * its batch shape without materializing the partition. */
  def extractMeta(records: Dataset[MediaRecord]): Dataset[MediaMeta] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap { batch =>
        batch.map { r =>
          val crc = checksum60(r.payload)
          val (w, h, fmt) = decodeHeader(r.payload).getOrElse(decodeStub(crc))
          MediaMeta(r.doc_id, r.payload.length.toLong, w, h, fmt, crc)
        }
      }
    }
  }

  case class MediaThumb(doc_id: Long, width: Int, height: Int, thumb: Array[Byte])

  /** REAL image resize (JDK codec + Graphics2D): decode, scale the
    * long edge down to `maxDim` (never upscales), re-encode PNG.
    * None for payloads no codec recognizes — those rows drop out,
    * the multimodal skip-on-undecodable contract. */
  private def resizeImage(payload: Array[Byte], maxDim: Int): Option[(Int, Int, Array[Byte])] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val scale = math.min(1.0, maxDim.toDouble / math.max(img.getWidth, img.getHeight))
        val w = math.max(1, math.round(img.getWidth * scale).toInt)
        val h = math.max(1, math.round(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", buf)
        Some((w, h, buf.toByteArray))
      }
    } catch { case _: Exception => None }

  /** Batched thumbnail pass: Dataset[MediaRecord] → Dataset[MediaThumb],
    * map-only like [[extractMeta]]; undecodable payloads are dropped. */
  def resizeThumbnails(records: Dataset[MediaRecord], maxDim: Int = 32): Dataset[MediaThumb] = {
    import records.sparkSession.implicits._
    records.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap { batch =>
        batch.flatMap { r =>
          resizeImage(r.payload, maxDim).map { case (w, h, b) =>
            MediaThumb(r.doc_id, w, h, b)
          }
        }
      }
    }
  }

  /** Fixture adapter: documents.text encoded as UTF-8 bytes plays
    * the opaque payload (the fixtures ship no real media). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val recs = t(s, dir, "documents")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[MediaRecord]
    extractMeta(recs).toDF().orderBy(col("doc_id"))
  }

  /** Frame sampling: fixed-size byte windows over the payload stand
    * in for video/audio frame extraction — slice → posexplode →
    * per-frame feature, first 3 frames per doc. All codegen'd
    * builtins (binary substring in a transform lambda); the slice
    * boundaries and batch shape are exactly what a real codec UDF
    * would see. */
  val FrameBytes = 64

  /** Text-as-payload bridge for the BYTE-slicing media family: only
    * docs whose text is pure ASCII (char length ≡ byte length) play
    * synthetic payloads. Non-ASCII text is SKIPPED — mirrored in
    * every byte-family oracle by the same length predicate
    * ([[AsciiBridgeSql]]) — because DuckDB (1.0) has no BLOB
    * substring/md5, so a byte window that splits a multi-byte char
    * is oracle-inexpressible. Until round 15 this bridge RAISED on
    * non-ASCII ("fail loudly over silently diverging"); the r15
    * hostile fixture legitimately plants mojibake docs, and a
    * mirrored skip removes the divergence the raise guarded against:
    * both engines now agree BY CONSTRUCTION on which rows
    * participate. Real binary payloads take the [[MediaRecord]] path
    * (MultimodalSpec's generated PNG/JPEG/GIF/BMP), which has no
    * such restriction. */
  private def asciiPayloadDocs(d: DataFrame): DataFrame =
    d.where(length(col("text")) === octet_length(col("text")))

  /** Oracle twin of [[asciiPayloadDocs]]'s predicate. */
  val AsciiBridgeSql = "length(text) = octet_length(encode(text))"

  def mediaFrames(s: SparkSession, dir: String): DataFrame = {
    val d = asciiPayloadDocs(t(s, dir, "documents"))
    d.select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        posexplode(expr(
          // greatest(...,1) guards empty payloads: sequence(0,-1)
          // would DESCEND in Spark and feed negative offsets
          s"transform(sequence(0, greatest(int(ceil(octet_length(payload) / $FrameBytes.0)), 1) - 1), " +
            s"i -> substring(payload, i * $FrameBytes + 1, $FrameBytes))"))
          .as(Seq("frame_idx", "frame")))
      .filter(col("frame_idx") < 3)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        octet_length(col("frame")).cast("long").as("frame_len"),
        CrossHash.md5Hash60Col(col("frame")).as("frame_fp"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Oracle for [[mediaMeta]] on the text-byte fixtures: payloads
    * are pure-ASCII UTF-8 text (asserted over every SF), so DuckDB's
    * string md5/length reproduce the engine's byte-level values, and
    * every row takes the stub-codec path (no installed codec
    * recognizes soup bytes). Real-image decode is covered by
    * MultimodalSpec with generated PNG/JPEG/GIF/BMP instead. */
  val mediaMetaSql: String =
    s"""WITH h AS (
       |  SELECT doc_id, octet_length(encode(text)) AS byte_len,
       |    ${CrossHash.sqlHash60("text")} AS h
       |  FROM documents)
       |SELECT doc_id, CAST(byte_len AS BIGINT) AS byte_len,
       |  CAST(64 + (h % 1857) AS INT) AS width,
       |  CAST(64 + ((h >> 17) % 1017) AS INT) AS height,
       |  ['png','jpeg','webp'][CAST((h >> 41) % 3 AS INT) + 1] AS format,
       |  h AS checksum
       |FROM h
       |ORDER BY doc_id""".stripMargin

  /** Oracle for [[mediaFrames]]: char windows ≡ byte windows on the
    * [[AsciiBridgeSql]]-filtered rows (the mirrored skip). */
  val mediaFramesSql: String =
    s"""WITH f AS (
       |  SELECT doc_id, i AS frame_idx,
       |    substring(text, i * $FrameBytes + 1, $FrameBytes) AS frame
       |  FROM documents,
       |    UNNEST(range(0, greatest(CAST(ceil(length(text) / $FrameBytes.0) AS INT), 1))) AS t(i)
       |  WHERE i < 3 AND $AsciiBridgeSql)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  CAST(length(frame) AS BIGINT) AS frame_len,
       |  ${CrossHash.sqlHash60("frame")} AS frame_fp
       |FROM f
       |ORDER BY doc_id, frame_idx""".stripMargin

  /** Bucket cap for the frame inverted index — a boilerplate frame
    * (shared intro/watermark) otherwise fans out quadratically; the
    * Dedup.MaxPosting skew rule applied to media. */
  val FrameBucketCap = 64

  /** Media near-dup detection via shared frame fingerprints — the
    * video/audio dedup standard (identical keyframes ⇒ re-encoded or
    * trimmed copies of the same asset, where whole-payload checksums
    * see nothing): fingerprint each [[FrameBytes]]-byte frame window
    * ([[mediaFrames]]'s exact slicing), invert to (fingerprint →
    * docs) postings, emit doc pairs sharing ≥ 1 frame with their
    * shared-frame count. Exact whole-payload duplicates surface
    * automatically as pairs sharing every frame.
    *
    * Scale shape: the inverted index is the span_dedup plan applied
    * to binary — the shuffle carries (8-byte fingerprint, doc_id),
    * NEVER payload bytes; pairs expand map-side per posting with
    * [[FrameBucketCap]] guarding boilerplate frames; one final
    * pair-keyed count. */
  def mediaDedup(s: SparkSession, dir: String): DataFrame = {
    val d = asciiPayloadDocs(t(s, dir, "documents"))
    val frames = d
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        explode(expr(
          s"transform(sequence(0, greatest(int(ceil(octet_length(payload) / $FrameBytes.0)), 1) - 1), " +
            s"i -> substring(payload, i * $FrameBytes + 1, $FrameBytes))")).as("frame"))
      .select(col("doc_id"), CrossHash.md5Hash60Col(col("frame")).as("fp")).distinct()
    // hot-frame cap applied BEFORE any posting list materializes
    // (the Dedup.capBuckets order — a watermark frame shared by 10⁶
    // assets must never build a member list in one agg buffer)
    val postings = Dedup.capBuckets(frames, Seq("fp"), hi = FrameBucketCap)
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
    postings
      .select(explode(expr(
        "flatten(transform(ds, (a, i) -> " +
          "transform(slice(ds, i + 2, size(ds)), b -> struct(a AS doc_a, b AS doc_b))))"))
        .as("p"))
      .groupBy(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared_frames"))
      .orderBy(col("n_shared_frames").desc, col("doc_a"), col("doc_b"))
  }

  /** Mirrored-skip bridge: char windows ≡ byte windows and DuckDB
    * string md5 ≡ byte md5 on the [[AsciiBridgeSql]] rows. */
  val mediaDedupSql: String =
    s"""WITH f AS (
       |  SELECT DISTINCT doc_id,
       |    ${CrossHash.sqlHash60(
             s"substring(text, i * $FrameBytes + 1, $FrameBytes)")} AS fp
       |  FROM documents,
       |    UNNEST(range(0, greatest(CAST(ceil(length(text) / $FrameBytes.0) AS INT), 1))) AS t(i)
       |  WHERE $AsciiBridgeSql),
       |posting AS (
       |  SELECT fp FROM f GROUP BY fp
       |  HAVING COUNT(*) BETWEEN 2 AND $FrameBucketCap)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  COUNT(*) AS n_shared_frames
       |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |JOIN posting p ON p.fp = a.fp
       |GROUP BY a.doc_id, b.doc_id
       |ORDER BY n_shared_frames DESC, doc_a, doc_b""".stripMargin

  /** Integer-exact luma (the BT.601 weights over per-mille integer
    * arithmetic — no float rounding to drift across JVMs). */
  private def gray(rgb: Int): Int = {
    val r = (rgb >> 16) & 0xFF
    val g = (rgb >> 8) & 0xFF
    val b = rgb & 0xFF
    (r * 299 + g * 587 + b * 114) / 1000
  }

  /** 60-bit dHash (difference hash) — the perceptual image
    * fingerprint real multimodal pipelines dedup on (a re-encoded,
    * resized, or slightly-recompressed copy keeps its hash; exact
    * checksums see nothing): REAL ImageIO decode → 11×6 grayscale
    * downsample → bit b set when the right neighbor is brighter
    * (10 comparisons × 6 rows = 60 bits — the SimHash bit width, so
    * the PROVEN 4×15-bit Hamming banding applies unchanged,
    * complete to radius 3 by pigeonhole). None for payloads no
    * installed codec recognizes. */
  private[graft] def dHash60(payload: Array[Byte]): Option[Long] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = 11
        val h = 6
        val out = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try g.drawImage(img, 0, 0, w, h, null) finally g.dispose()
        var fp = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w - 1) {
            if (gray(out.getRGB(x + 1, y)) > gray(out.getRGB(x, y)))
              fp |= 1L << (y * (w - 1) + x)
            x += 1
          }
          y += 1
        }
        Some(fp)
      }
    } catch { case _: Exception => None }

  /** Stub perceptual hash for payloads no installed codec decodes:
    * a frame-LOCALITY fingerprint — band b of the 60-bit hash is the
    * 15-bit md5 of the payload's b-th [[FrameBytes]] window, so
    * payloads sharing leading content regions share Hamming bands
    * (locality a whole-payload checksum cannot give), and the
    * fixture path stays DuckDB-replayable byte-for-byte. */
  private[ops] def frameStub60(payload: Array[Byte]): Long = {
    var fp = 0L
    var b = 0
    while (b < Dedup.SimhashBands) {
      val from = b * FrameBytes
      val frame =
        if (payload == null || from >= payload.length) Array.empty[Byte]
        else payload.slice(from, math.min(payload.length, from + FrameBytes))
      fp |= (CrossHash.md5Hash60(frame) & ((1L << Dedup.SimhashBandBits) - 1)) <<
        (b * Dedup.SimhashBandBits)
      b += 1
    }
    fp
  }

  /** Perceptual near-dup pairs over binary payloads: per-payload
    * 60-bit dHash ([[frameStub60]] for undecodable payloads — the
    * extractMeta real-or-stub contract, which also keeps the fixture
    * path DuckDB-replayable), banded into 4×15 bits with the
    * hot-bucket pre-cap, bucket-sharing pairs verified exactly with
    * the xor+popcount Hamming kernel at radius ≤ 3 (banding is
    * COMPLETE to that radius — the [[Dedup.simhashDedup]] proof).
    * Scale shape: map-only hashing, ONE bucket shuffle, pairs expand
    * map-side inside capped buckets, narrow (ids + two longs)
    * shuffle rows. */
  def phashPairs(payloads: DataFrame): DataFrame = {
    val ph = udf { (p: Array[Byte]) => dHash60(p).getOrElse(frameStub60(p)) }
    fpPairs(payloads.select(col("doc_id"), ph(col("payload")).as("fp")))
  }

  /** Banded-Hamming pair search over ANY (doc_id, 60-bit fp)
    * relation — the one shape shared by the image dHash and the
    * audio energy-signature detectors: 4×15-bit LSH bands,
    * hot-bucket pre-cap, map-side pair expansion, xor+popcount
    * verify at Hamming ≤ 3. */
  private def fpPairs(fp: DataFrame): DataFrame = {
    val banded = fp.select(col("doc_id"), col("fp"),
      explode(expr(
        s"transform(sequence(0, ${Dedup.SimhashBands - 1}), " +
          s"b -> struct(b AS band, CAST(shiftright(fp, b * ${Dedup.SimhashBandBits}) " +
          s"& ${(1 << Dedup.SimhashBandBits) - 1} AS INT) AS bval))")).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bval").as("bval"),
        col("doc_id"), col("fp"))
    Dedup.capBuckets(banded, Seq("band", "bval"), hi = FrameBucketCap)
      .groupBy(col("band"), col("bval"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("fp")))).as("members"))
      .select(explode(expr(
        "flatten(transform(members, (m, i) -> " +
          "transform(slice(members, i + 2, size(members)), n -> " +
          "struct(m.doc_id AS doc_a, n.doc_id AS doc_b, m.fp AS fp_a, n.fp AS fp_b))))"))
        .as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .dropDuplicates("doc_a", "doc_b")
      .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
  }

  /** Fixture adapter (text bytes play the payload, every row takes
    * the stub branch — same contract as [[mediaMeta]]); the real
    * perceptual behavior is pinned by the image spec (a resized
    * copy pairs with its original, distinct images don't).
    *
    * Bridge: the oracle stub slices TEXT by CHARACTERS while
    * [[frameStub60]] slices the payload by BYTES — equivalent only
    * for ASCII, so non-ASCII docs take the [[asciiPayloadDocs]]
    * mirrored skip (both engines exclude the same rows by
    * construction). */
  def mediaPhashDedup(s: SparkSession, dir: String): DataFrame =
    phashPairs(asciiPayloadDocs(t(s, dir, "documents"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))

  /** Oracle mirror on the all-stub fixture path: per-band 15-bit
    * frame md5s OR-ed into the 60-bit fingerprint (ASCII text ⇒
    * DuckDB's string md5 ≡ the engine's byte md5 — the mediaMeta
    * bridge), then the simhash banding/cap/Hamming-verify shape. */
  val mediaPhashDedupSql: String = {
    val stub = (0 until Dedup.SimhashBands).map { b =>
      val frame = s"substring(text, ${b * FrameBytes} + 1, $FrameBytes)"
      s"((${CrossHash.sqlHash60(frame)} & ${(1 << Dedup.SimhashBandBits) - 1}) " +
        s"<< ${b * Dedup.SimhashBandBits})"
    }.mkString(" | ")
    s"""WITH fp AS (
       |  SELECT doc_id, $stub AS fp
       |  FROM documents
       |  WHERE $AsciiBridgeSql),
       |band AS (
       |  SELECT doc_id, fp, b,
       |    (fp >> (b * ${Dedup.SimhashBandBits})) & ${(1 << Dedup.SimhashBandBits) - 1} AS bval
       |  FROM fp, UNNEST(range(0, ${Dedup.SimhashBands})) AS t(b)),
       |bucketed AS (
       |  SELECT band.* FROM band
       |  JOIN (SELECT b, bval FROM band GROUP BY b, bval
       |        HAVING COUNT(*) BETWEEN 2 AND $FrameBucketCap) g
       |  USING (b, bval)),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.fp AS fa, y.fp AS fb
       |  FROM bucketed x JOIN bucketed y
       |    ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM cand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY hamming, doc_a, doc_b""".stripMargin
  }

  // ---- audio near-dup: band-energy signature + banded Hamming ----

  /** Bands in the audio energy signature: 61 energies → 60
    * adjacent-band comparisons → one 60-bit fingerprint. */
  val AudioBands = 61

  /** Bytes summed per energy band (stub PCM: the payload bytes play
    * the samples). */
  val AudioBandBytes = 4

  /** Chromaprint-style audio signature, stub-decoded: treat the
    * payload bytes as PCM samples, sum [[AudioBandBytes]]-byte band
    * energies, and set bit b when band b+1 is strictly louder than
    * band b — the adjacent-band-comparison trick that makes the
    * fingerprint invariant to small per-sample perturbations
    * (re-encode jitter moves every energy by a little; the
    * COMPARISONS survive), where [[mediaDedup]]'s exact frame md5s
    * flip on a single byte. A real deployment swaps the byte-sum
    * stub for an FFT band energy behind the same signature; the
    * Spark side — fingerprint UDF, banding, cap, verify — is the
    * production path unchanged. */
  private[graft] def audioFp60(payload: Array[Byte]): Long = {
    val energies = new Array[Long](AudioBands)
    var b = 0
    while (b < AudioBands) {
      var j = 0
      var e = 0L
      while (j < AudioBandBytes) {
        val idx = b * AudioBandBytes + j
        if (idx < payload.length) e += (payload(idx) & 0xFF)
        j += 1
      }
      energies(b) = e
      b += 1
    }
    var fp = 0L
    var i = 0
    while (i < AudioBands - 1) {
      if (energies(i + 1) > energies(i)) fp |= (1L << i)
      i += 1
    }
    fp
  }

  private val audioFpUdf = udf { (p: Array[Byte]) => audioFp60(p) }

  /** Audio near-dup pairs over any (doc_id, payload) relation —
    * [[audioFp60]] through the shared banded-Hamming search. */
  def audioPairs(payloads: DataFrame): DataFrame =
    fpPairs(payloads.select(col("doc_id"), audioFpUdf(col("payload")).as("fp")))

  /** Fixture adapter with the same [[asciiPayloadDocs]] mirrored
    * byte/char bridge as [[mediaPhashDedup]]. */
  def mediaAudioDedup(s: SparkSession, dir: String): DataFrame =
    audioPairs(asciiPayloadDocs(t(s, dir, "documents"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")))

  /** Oracle mirror: band energies as ord() sums over char positions
    * (ASCII ⇒ char code ≡ byte value), adjacent comparison via a
    * doc-keyed lead window, then the shared banding/cap/verify
    * shape. */
  val mediaAudioDedupSql: String =
    s"""WITH ae AS (
       |  SELECT doc_id, band,
       |    list_sum(list_transform(range(band * $AudioBandBytes + 1, band * $AudioBandBytes + ${AudioBandBytes + 1}),
       |      p -> CASE WHEN p <= length(text) THEN ord(substring(text, p, 1)) ELSE 0 END)) AS e
       |  FROM documents, UNNEST(range(0, $AudioBands)) AS t(band)
       |  WHERE $AsciiBridgeSql),
       |af AS (
       |  SELECT doc_id,
       |    CAST(COALESCE(SUM(CASE WHEN ne > e THEN CAST(1 AS BIGINT) << band ELSE 0 END), 0) AS BIGINT) AS fp
       |  FROM (SELECT doc_id, band, e,
       |          lead(e) OVER (PARTITION BY doc_id ORDER BY band) AS ne
       |        FROM ae)
       |  WHERE band < ${AudioBands - 1}
       |  GROUP BY doc_id),
       |aband AS (
       |  SELECT doc_id, fp, b,
       |    (fp >> (b * ${Dedup.SimhashBandBits})) & ${(1 << Dedup.SimhashBandBits) - 1} AS bval
       |  FROM af, UNNEST(range(0, ${Dedup.SimhashBands})) AS t(b)),
       |abucketed AS (
       |  SELECT aband.* FROM aband
       |  JOIN (SELECT b, bval FROM aband GROUP BY b, bval
       |        HAVING COUNT(*) BETWEEN 2 AND $FrameBucketCap) g
       |  USING (b, bval)),
       |acand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.fp AS fa, y.fp AS fb
       |  FROM abucketed x JOIN abucketed y
       |    ON x.b = y.b AND x.bval = y.bval AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
       |FROM acand
       |WHERE bit_count(xor(fa, fb)) <= 3
       |ORDER BY hamming, doc_a, doc_b""".stripMargin

  /** Scene-change threshold for [[mediaKeyframes]]: adjacent frames
    * whose 60-bit signatures differ in more than this many bits open
    * a new scene. Re-encode jitter moves a handful of bits (the
    * adjacent-byte comparisons mostly survive small perturbations);
    * a content cut randomizes ~half of the 60. */
  val KeyframeTau = 30

  /** 60-bit per-frame signature for scene-change detection: bit i is
    * set when frame byte i+1 is strictly greater than byte i (the
    * dHash gradient trick applied along the frame's byte stream) —
    * invariant to small per-byte jitter, where the exact frame md5
    * ([[mediaDedup]]) flips on any single byte. Stub-decoded like
    * every media op here: a real deployment computes the same
    * signature over decoded luma rows behind the identical Spark
    * plumbing. */
  private[graft] def frameSig60(frame: Array[Byte]): Long = {
    val n = math.min(61, frame.length)
    var fp = 0L
    var i = 0
    while (i < n - 1) {
      if ((frame(i + 1) & 0xFF) > (frame(i) & 0xFF)) fp |= (1L << i)
      i += 1
    }
    fp
  }

  private val frameSigUdf = udf { (f: Array[Byte]) => frameSig60(f) }

  /** Keyframe selection — the first video step of a vision-language
    * data pipeline (sample ONE representative frame per scene instead
    * of every near-identical frame): frames whose signature sits more
    * than [[KeyframeTau]] Hamming bits from their predecessor start a
    * scene; a first frame starts one by definition (its distance is
    * pinned at the 60-bit maximum so the rule stays uniform). TOTAL:
    * one row per frame with its distance and flag — the keep-list a
    * frame sampler applies.
    *
    * Scale shape: one map pass explodes frames and signs them (the
    * mediaFrames slicing, full stream); the predecessor comparison is
    * a lag over the MEDIA-keyed window (bounded by frames-per-asset,
    * never corpus-wide); the flag is arithmetic. */
  def mediaKeyframes(s: SparkSession, dir: String): DataFrame = {
    val payloads = asciiPayloadDocs(t(s, dir, "documents"))
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val frames = payloads.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, greatest(int(ceil(octet_length(payload) / $FrameBytes.0)), 1) - 1), " +
          s"i -> substring(payload, i * $FrameBytes + 1, $FrameBytes))"))
        .as(Seq("frame_idx", "frame")))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    frames
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        frameSigUdf(col("frame")).as("sig"))
      .withColumn("prev", lag(col("sig"), 1).over(w))
      .withColumn("hamming_prev",
        when(col("prev").isNull, lit(60L))
          .otherwise(bit_count(col("sig").bitwiseXOR(col("prev"))).cast("long")))
      .select(col("doc_id"), col("frame_idx"), col("hamming_prev"),
        (col("hamming_prev") > KeyframeTau).cast("int").as("is_keyframe"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Oracle mirror: the mediaFrames char≡byte slicing, the signature
    * as an ord()-comparison bit sum (p = 1-based byte position; bit
    * p−1 set when byte p+1 > byte p, positions capped at 61 to match
    * the engine's min(61, len) walk), a doc-keyed lag, xor+popcount. */
  val mediaKeyframesSql: String =
    s"""WITH kf_f AS (
       |  SELECT doc_id, i AS frame_idx,
       |    substring(text, i * $FrameBytes + 1, $FrameBytes) AS frame
       |  FROM documents,
       |    UNNEST(range(0, greatest(CAST(ceil(length(text) / $FrameBytes.0) AS INT), 1))) AS t(i)
       |  WHERE $AsciiBridgeSql),
       |kf_s AS (
       |  SELECT doc_id, frame_idx,
       |    CAST(COALESCE(SUM(CASE WHEN p + 1 <= length(frame)
       |            AND ord(substring(frame, p + 1, 1)) > ord(substring(frame, p, 1))
       |          THEN CAST(1 AS BIGINT) << (p - 1) ELSE 0 END), 0) AS BIGINT) AS sig
       |  FROM kf_f, UNNEST(range(1, 61)) AS t(p)
       |  GROUP BY doc_id, frame_idx),
       |kf_l AS (
       |  SELECT doc_id, frame_idx, sig,
       |    lag(sig) OVER (PARTITION BY doc_id ORDER BY frame_idx) AS prev
       |  FROM kf_s)
       |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |  CAST(CASE WHEN prev IS NULL THEN 60
       |            ELSE bit_count(xor(sig, prev)) END AS BIGINT) AS hamming_prev,
       |  CASE WHEN (CASE WHEN prev IS NULL THEN 60
       |             ELSE bit_count(xor(sig, prev)) END) > $KeyframeTau
       |       THEN 1 ELSE 0 END AS is_keyframe
       |FROM kf_l
       |ORDER BY doc_id, frame_idx""".stripMargin

  // ------------------------------------------ media–text alignment

  /** Caption length, in words, of the fixture's (media, caption)
    * pairs: the first words of the paired doc play the alt-text a
    * crawler harvests next to an asset. */
  val CaptionWords = 12

  /** Keep threshold for [[mediaTextAlign]]. Measured on the fixture
    * (sf0.01): aligned prefix-captions score p10 = 0.454 / p50 =
    * 0.622 against their own media; SWAPPED captions (the % 11 = 3
    * planted misalignments) sit at p90 = 0.383 / p50 = 0.246 —
    * 0.42 splits the populations at their 10th/90th percentiles.
    * The residual tail overlap (aligned min 0.21, swapped max 0.52)
    * is the filter's real operating regime — CLIP-score filters trade
    * exactly this recall/precision tail, which is why the threshold
    * is a named constant, not a magic number. */
  val MediaAlignTau = 0.42

  /** CLIP-style alignment scoring over an EXPLICIT pairs relation —
    * the operator proper, decoupled from any pairing convention: one
    * row per (media_id, payload, caption_id, caption) candidate pair
    * (the crawler's output shape — an asset with its harvested
    * alt-text). Media embeds through decode → the registered hash
    * embedder (the stand-in for the image tower); the caption embeds
    * through the text tower; alignment is the shared cosine kernel;
    * `keep` thresholds at [[MediaAlignTau]].
    *
    * TOTAL by contract — an alignment filter that skips auditing a
    * pair defeats its own purpose, so every input pair emits exactly
    * one output row: a missing caption, a missing payload, or a
    * zero-norm tower on EITHER side (whitespace-only payload, empty
    * caption) surfaces as `keep = 0` with a NULL score, never a
    * silent drop.
    *
    * Scale shape: scoring is row-local (both towers embed in the
    * row) — map-only, no shuffle, no state. */
  def alignPairs(pairs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions.{dot, l2norm, r6}
    pairs
      .withColumn("mv", when(col("payload").isNotNull,
        graft.embed.EmbedOps.embedUdf()(decode(col("payload"), "UTF-8"))))
      .withColumn("cv", when(col("caption").isNotNull,
        graft.embed.EmbedOps.embedUdf()(col("caption"))))
      .withColumn("mn", l2norm(col("mv")))
      .withColumn("cn", l2norm(col("cv")))
      .withColumn("align",
        when(col("mn") > 0 && col("cn") > 0,
          r6(try_divide(dot(col("mv"), col("cv")), col("mn") * col("cn")))))
      .select(col("media_id"), col("caption_id"), col("align"),
        coalesce((col("align") >= MediaAlignTau).cast("int"), lit(0)).as("keep"))
  }

  /** The registered media–text alignment filter — the pair-scoring
    * step every LAION-style multimodal curation pipeline runs between
    * ingest and training, and the one check per-modality dedup cannot
    * make: a pristine image with a wrong caption passes image dedup
    * AND text dedup but must not train. THIS function only BUILDS the
    * fixture's pair relation and delegates scoring to [[alignPairs]]:
    * captions are [[CaptionWords]]-word prefixes of the paired doc,
    * and pairing follows the fixture convention of decontaminate's
    * % 50 rule — every doc_id % 11 = 3 media is PAIRED WITH THE NEXT
    * DOC's caption, a deterministic population of misaligned pairs so
    * the filter's discrimination is exercised (and oracle-checked) on
    * the natural fixture, not only in specs. The pairing LEFT-joins
    * caption text (a % 11 = 3 rule mapping past the id space still
    * audits as keep = 0), then scoring is the shared map-only kernel.
    *
    * Scale shape: ONE equi-join of ids + short caption strings to
    * build pairs, then row-local scoring — no vector ever shuffles. */
  def mediaTextAlign(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val caps = d.select(col("doc_id").as("caption_id"),
      array_join(slice(split(col("text"), " "), 1, CaptionWords), " ").as("caption"))
    // no ASCII bridge here: the media tower DECODES the payload back
    // to the string before embedding (encode∘decode is lossless), so
    // engine ≡ oracle holds for any text — the string-level embed
    // chain is already hostile-proven on mojibake docs by the
    // semantic_* family
    val pairs = d
      .select(col("doc_id").as("media_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .withColumn("caption_id",
        when(col("media_id") % 11 === 3, col("media_id") + 1)
          .otherwise(col("media_id")))
      .join(caps, Seq("caption_id"), "left")
    alignPairs(pairs).orderBy(col("media_id"))
  }

  /** Oracle mirror: the Curation embed chain twice (full docs play
    * the decoded media tower, caption prefixes the text tower —
    * distinct CTE prefixes per the shadowing rule), the % 11 = 3
    * next-doc pairing, the shared densified-list cosine. The pair
    * spine is the DOCUMENTS table with BOTH towers left-joined —
    * the embed chain drops zero-norm docs, and a pair whose media
    * tower is unscorable must still audit as keep = 0/NULL (the
    * [[alignPairs]] totality contract), exactly like a missing
    * caption. */
  val mediaTextAlignSql: String = {
    val capRel = s"(SELECT doc_id, array_to_string(string_split(text, ' ')[1 : $CaptionWords], ' ') AS text FROM documents)"
    s"""WITH ${Curation.embedChainCte("mm", "documents")},
       |${Curation.embedChainCte("mc", capRel)},
       |mt_scored AS (
       |  SELECT p.doc_id AS media_id, p.caption_id,
       |    CASE WHEN m.doc_id IS NULL OR c.doc_id IS NULL THEN NULL
       |         ELSE ${Curation.sdCos("m.ve", "c.ve")} END AS align
       |  FROM (SELECT doc_id,
       |          CASE WHEN doc_id % 11 = 3 THEN doc_id + 1 ELSE doc_id END AS caption_id
       |        FROM documents) p
       |  LEFT JOIN mm_vec m ON m.doc_id = p.doc_id
       |  LEFT JOIN mc_vec c ON c.doc_id = p.caption_id)
       |SELECT media_id, caption_id, align,
       |  CASE WHEN align >= $MediaAlignTau THEN 1 ELSE 0 END AS keep
       |FROM mt_scored
       |ORDER BY media_id""".stripMargin
  }

  /** Per-source alignment report — the audit a multimodal curation
    * run publishes beside [[mediaTextAlign]]'s per-pair decisions:
    * pairs, keeps, keep-rate and mean alignment per document source
    * (a source whose keep-rate craters is a mis-scraped
    * caption field, not a content problem). Mean alignment bridges
    * through SHIFTED exact micro-units (the bitext_mine idiom —
    * cosines can be negative, and the (2q+n) div (2n) half-up
    * identity needs nonnegative operands to match DuckDB's //).
    *
    * Scale shape: one media_id-keyed join to the source column, ONE
    * per-source aggregation of exact integers; group keys are the
    * handful of sources. */
  def mediaAlignReport(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("doc_id").as("media_id"), col("source"))
    mediaTextAlign(s, dir)
      .withColumn("a6", round(col("align") * 1e6).cast("long") + 1000000L)
      .join(src, Seq("media_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(col("keep").cast("long")), lit(0L)).as("n_keep"),
        // NULL-align pairs (missing caption doc) count in n_pairs and
        // as keep = 0, but not in the mean: sum/count over a6 skip
        // nulls in both engines
        sum(col("a6")).as("q"), count(col("a6")).as("n"))
      .select(col("source"), col("n_pairs"), col("n_keep"),
        graft.functions.VectorFunctions.r6(
          col("n_keep").cast("double") / col("n_pairs")).as("keep_rate"),
        when(col("n") === 0, lit(null).cast("double"))
          .otherwise(((expr("(2 * q + n) div (2 * n)") - 1000000L).cast("double") / 1e6))
          .as("mean_align"))
      .orderBy(col("source"))
  }

  /** Oracle mirror: the pair SQL nested, shifted micro-unit mean
    * over the SCORED pairs (COUNT/SUM of the shifted micro column
    * skip the null-align rows in both engines). */
  val mediaAlignReportSql: String =
    s"""WITH mar_p AS MATERIALIZED (
       |  SELECT media_id, align, keep FROM ($mediaTextAlignSql)),
       |mar_s AS (
       |  SELECT d.source,
       |    COUNT(*) AS n_pairs,
       |    SUM(p.keep) AS n_keep,
       |    SUM(CAST(round(p.align * 1e6) AS BIGINT) + 1000000) AS q,
       |    COUNT(p.align) AS n
       |  FROM mar_p p JOIN documents d ON d.doc_id = p.media_id
       |  GROUP BY d.source)
       |SELECT source, CAST(n_pairs AS BIGINT) AS n_pairs,
       |  CAST(n_keep AS BIGINT) AS n_keep,
       |  round(CAST(n_keep AS DOUBLE) / n_pairs, 6) + 0 AS keep_rate,
       |  CASE WHEN n = 0 THEN NULL
       |       ELSE CAST((2 * q + n) // (2 * n) - 1000000 AS DOUBLE) / 1e6
       |  END AS mean_align
       |FROM mar_s
       |ORDER BY source""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "media_meta" -> (mediaMeta _),
    "media_frames" -> (mediaFrames _),
    "media_dedup" -> (mediaDedup _),
    "media_phash_dedup" -> (mediaPhashDedup _),
    "media_audio_dedup" -> (mediaAudioDedup _),
    "media_keyframes" -> (mediaKeyframes _),
    "media_text_align" -> (mediaTextAlign _),
    "media_align_report" -> (mediaAlignReport _))

  val oracles: Map[String, String] = Map(
    "media_meta" -> mediaMetaSql,
    "media_frames" -> mediaFramesSql,
    "media_dedup" -> mediaDedupSql,
    "media_phash_dedup" -> mediaPhashDedupSql,
    "media_audio_dedup" -> mediaAudioDedupSql,
    "media_keyframes" -> mediaKeyframesSql,
    "media_text_align" -> mediaTextAlignSql,
    "media_align_report" -> mediaAlignReportSql)
}
