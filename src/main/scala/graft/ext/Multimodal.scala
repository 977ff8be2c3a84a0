package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads are opaque
  * `binary` columns with a typed metadata struct travelling alongside.
  * The Spark-side plumbing (schema, batch shape, partition-local decode,
  * feature extraction signature) is the `mapInPandas`-style batch shape a
  * real pipeline uses.
  *
  * Codecs: REAL for the formats the JVM can decode without external
  * libraries — PNG/JPEG/BMP/GIF through `javax.imageio`, WAV/PCM through
  * `javax.sound.sampled`, and MP4/MKV container headers (duration, frame
  * count, display size) through pure ISO-BMFF / EBML byte parsing
  * ([[MultimodalCodecs]]); only payloads where even the metadata needs a
  * codec (mp3, AVI, …) fall back to the clearly-marked deterministic
  * stand-ins in [[MultimodalStubs]] so the dataflow is total. Frame
  * PIXEL extraction for video still needs an external binding; swapping
  * one in (JNI/javacpp) touches only [[MultimodalCodecs]], not the
  * dataflow.
  */
object Multimodal {

  /** [[phashPairs]]' Hamming radius and Manku block count. */
  private val PhashMaxHamming = 3
  private val PhashBlocks = 6

  /** Typed sidecar metadata for a binary payload. */
  case class MediaMeta(modality: String, byteLen: Long, sha256: String,
      width: Int, height: Int, sampleRateHz: Int)

  case class MediaRow(doc_id: Long, payload: Array[Byte], meta: MediaMeta)

  case class FeatureRow(doc_id: Long, modality: String, features: Array[Float])

  /** Wrap a text/bytes source as a multimodal frame: payload binary +
    * metadata struct. `modality` derived from a tag column. Pure native
    * expressions (encode/sha2/length) — this is the ingest path a real
    * pipeline uses before handing batches to a decoder. */
  def asMedia(df: DataFrame, idCol: String, bytesCol: String,
      modalityCol: String): DataFrame =
    mediaFrame(df, idCol, encode(col(bytesCol), "UTF-8"), col(modalityCol))

  /** Binary-column ingest (actual media payloads, e.g. a parquet `binary`
    * column of PNG/WAV blobs). */
  def asMediaBinary(df: DataFrame, idCol: String, binCol: String,
      modalityCol: String): DataFrame =
    mediaFrame(df, idCol, col(binCol), col(modalityCol))

  private def mediaFrame(df: DataFrame, idCol: String,
      payload: org.apache.spark.sql.Column,
      modality: org.apache.spark.sql.Column): DataFrame =
    df.select(
      col(idCol).cast("long").as("doc_id"),
      payload.as("payload"),
      struct(
        modality.as("modality"),
        octet_length(payload).cast("long").as("byteLen"),
        sha2(payload, 256).as("sha256"),
        lit(0).as("width"), lit(0).as("height"),
        lit(0).as("sampleRateHz")).as("meta"))

  /** Partition-local decode: batches stream through `mapPartitions` so
    * codec state amortizes per partition. Image payloads get their REAL
    * pixel dimensions, WAV payloads their real sample rate; undecodable
    * formats fall back to the deterministic stub. */
  def decode(ds: Dataset[MediaRow])(implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        MultimodalCodecs.decodeMeta(r.payload) match {
          case Some((modality, w, h, rate)) =>
            r.copy(meta = r.meta.copy(modality = modality, width = w,
              height = h, sampleRateHz = rate))
          case None => MultimodalStubs.decodeStub(r)
        }
      }
    }
  }

  /** Feature extraction: fixed-width float vector per payload,
    * partition-local. Images: grid mean-pooled luminance; WAV: per-window
    * RMS energy; undecodable payloads: deterministic byte-hash stub. */
  def extractFeatures(ds: Dataset[MediaRow], dims: Int = 16)
      (implicit spark: SparkSession): Dataset[FeatureRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        val feats = MultimodalCodecs.features(r.payload, dims)
          .getOrElse(MultimodalStubs.featureStub(r.payload, dims))
        FeatureRow(r.doc_id, r.meta.modality, feats)
      }
    }
  }

  /** Resize: image payloads are ACTUALLY re-encoded at (w, h) (bilinear
    * scale + PNG re-encode); non-image payloads keep their bytes and only
    * the target metadata is recorded (the stub contract). Row count and
    * schema preserved either way. */
  def resize(ds: Dataset[MediaRow], w: Int, h: Int)
      (implicit spark: SparkSession): Dataset[MediaRow] = {
    import spark.implicits._
    ds.mapPartitions { it =>
      it.map { r =>
        MultimodalCodecs.resizeImage(r.payload, w, h) match {
          case Some(bytes) =>
            r.copy(payload = bytes,
              meta = r.meta.copy(width = w, height = h,
                byteLen = bytes.length.toLong))
          case None => r.copy(meta = r.meta.copy(width = w, height = h))
        }
      }
    }
  }

  /** Perceptual 64-bit dHash per payload (null for non-image payloads):
    * the content-level fingerprint for IMAGE near-dup detection —
    * catches re-encoded / brightness-shifted / resized copies whose
    * byte-level sha256 all differ. Partition-local decode+hash (same
    * mapPartitions batch shape as [[decode]]). */
  def dHashes(df: DataFrame, idCol: String, payloadCol: String)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, MultimodalCodecs.dHash64(payload))
      })
      .toDF("doc_id", "dhash")
  }

  /** Gain-invariant audio fingerprint per payload (null for non-WAV) —
    * [[MultimodalCodecs.audioFp64]] through the same partition-local
    * batch shape as [[dHashes]]; feed the result to [[phashPairs]] (the
    * banded hamming search is fingerprint-agnostic). */
  def audioFps(df: DataFrame, idCol: String, payloadCol: String)
      (implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        (id, MultimodalCodecs.audioFp64(payload))
      })
      .toDF("doc_id", "dhash")
  }

  /** Image near-dup pairs over a (doc_id, dhash) frame: hamming(dHash) ≤
    * [[PhashMaxHamming]], found WITHOUT an all-pairs scan — the same Manku
    * COMBINATION banding the simhash text path uses ([[Dedup.simhashBands]]:
    * 6 blocks, join keys = hashes of every 3-block
    * combination, pigeonhole guarantees recall), so bucket space is ~2³²
    * and candidate volume stays collision-bounded out to ~10⁹ images —
    * a first cut of plain 8-bit byte-bands put 200k docs into 256
    * buckets per band and went quadratic (measured 414 s at 200k; the
    * combination banding replays the planted set in seconds). Only
    * candidates pay the popcount verify. Emits (doc_a, doc_b, hamming),
    * doc_a < doc_b. */
  def phashPairs(hashedIn: DataFrame): DataFrame = {
    // both sides of the band self-join read this frame — materialize the
    // two fixed-width columns once (eager localCheckpoint, not cache:
    // repeated invocations would accumulate storage memory relying on
    // LRU eviction, ADVICE r9) so the (codec-bound) upstream runs ONCE
    val hashed = hashedIn.transform(Pin.pin)
    val sim = hashed.where(col("dhash").isNotNull)
      .select(col("doc_id").as("doc"), col("dhash").as("simhash"))
    Dedup.dupPairsFromSim(sim, PhashMaxHamming, PhashBlocks)
      .select(col("doc_a"), col("doc_b"),
        col("hamming").cast("long").as("hamming"))
  }

  case class FrameRow(doc_id: Long, frame_idx: Int, offset_ms: Long,
      frame: Array[Byte], meta: MediaMeta)

  /** Video frame sampling: one payload row explodes to its sampled
    * frames — one every `everyMs` milliseconds of the (stub-derived)
    * duration, capped at `maxFrames`. The Spark-side shape is the real
    * contract: a partition-local flatMap with CONSTANT memory per input
    * row (frames stream out of the iterator — the whole video is never
    * held decoded), each frame keyed (doc_id, frame_idx, offset_ms) so
    * the downstream image ops (decode/resize/extractFeatures) apply to
    * frames unchanged. Duration is REAL for MP4 (mvhd) and MKV (EBML
    * Info/Duration) via pure container-header byte parsing
    * ([[MultimodalCodecs.videoDurationMs]]); only formats whose duration
    * genuinely needs a codec fall to the deterministic stand-in. Frame
    * EXTRACTION decodes through [[ExternalVideoDecoder]] when a decoder
    * process is available on the host (gated per executor JVM, one temp
    * file + one process per frame, stdout captured, bounded wait),
    * falling back to the deterministic stub bytes when no decoder exists
    * or the decode fails — this container ships no decoder, so the
    * DECLARED queries never depend on frame bytes (they pin metadata and
    * frame keys), while the external-process plumbing itself is spec'd
    * through an injected fake decoder. */
  def sampleFrames(ds: Dataset[MediaRow], everyMs: Long = 1000L,
      maxFrames: Int = 8)(implicit spark: SparkSession): Dataset[FrameRow] = {
    import spark.implicits._
    require(everyMs > 0 && maxFrames > 0, "everyMs and maxFrames must be positive")
    ds.mapPartitions { rows =>
      // resolve the decoder ONCE per partition; with none configured the
      // stub path below stays a pure in-memory iterator
      val tmpl = ExternalVideoDecoder.commandTemplate
      rows.flatMap { r =>
        val durMs = MultimodalCodecs.videoDurationMs(r.payload)
          .getOrElse(MultimodalStubs.durationMsStub(r))
        val n = math.min(maxFrames.toLong,
          math.max(1L, durMs / everyMs)).toInt
        tmpl match {
          case None =>
            (0 until n).iterator.map { i =>
              FrameRow(r.doc_id, i, i * everyMs,
                MultimodalStubs.frameStub(r.payload, i), r.meta)
            }
          case Some(t) =>
            // ONE payload write per video shared by all its frame
            // decodes (r10 review: the per-frame temp file rewrote the
            // payload n times). Frames for a row materialize inside the
            // file's scope — bounded by maxFrames, so per-row memory
            // stays constant-bounded.
            ExternalVideoDecoder.withPayloadFile(r.payload) { path =>
              (0 until n).map { i =>
                val frame = ExternalVideoDecoder
                  .extractFrameFromFile(t, path, i * everyMs)
                  .getOrElse(MultimodalStubs.frameStub(r.payload, i))
                FrameRow(r.doc_id, i, i * everyMs, frame, r.meta)
              }
            }.iterator
        }
      }
    }
  }
}

/** External-process video frame extraction — the honest way to decode
  * video on a JVM-only cluster: shell out to a host decoder (ffmpeg by
  * default) when one exists, per executor. The command template is
  * injectable (`graft.videoDecoder` system property, `{IN}` → input
  * file, `{SEC}` → seek seconds) so a cluster image with a different
  * decoder — or a spec with a fake one — slots in without code change.
  * No decoder present → [[extractFrame]] is None and callers keep their
  * deterministic fallback, so results never silently depend on host
  * software for the declared (hashed) outputs. */
object ExternalVideoDecoder {

  /** Default ffmpeg template: one PNG frame at the seek point on
    * stdout. */
  private val FfmpegTemplate =
    "ffmpeg -hide_banner -loglevel error -ss {SEC} -i {IN} " +
      "-frames:v 1 -f image2 -c:v png pipe:1"

  /** Detect per property value (memoized — PATH is probed once per
    * distinct setting, not per frame): explicit template property wins;
    * else ffmpeg if present on PATH; else None (fallback mode).
    *
    * Two template encodings (r10 advice — a space-split-only form could
    * not express a binary path containing spaces): a JSON string array
    * (`["/opt/my decoder/bin","-i","{IN}"]` — delimiter-safe, any argv
    * may contain spaces) when the property starts with `[`, else plain
    * whitespace splitting (convenient for typical space-free
    * commands). */
  private val detected =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Seq[String]]]()
  def commandTemplate: Option[Seq[String]] = {
    val key = sys.props.getOrElse("graft.videoDecoder", "")
    detected.computeIfAbsent(key, k =>
      if (k.startsWith("["))
        Some(new com.fasterxml.jackson.databind.ObjectMapper()
          .readValue(k, classOf[Array[String]]).toSeq)
      else if (k.nonEmpty) Some(k.split("\\s+").toSeq)
      else {
        val onPath = sys.env.getOrElse("PATH", "").split(":").exists(d =>
          new java.io.File(d, "ffmpeg").canExecute)
        if (onPath) Some(FfmpegTemplate.split("\\s+").toSeq) else None
      })
  }

  /** Decode ONE frame at `offsetMs`: payload → temp file → decoder
    * process → stdout bytes. None when no decoder is configured, the
    * process fails/times out, or emits nothing — callers must fall
    * back. Temp file always deleted; wait bounded (20 s) so a hung
    * decoder cannot wedge an executor core forever. */
  def extractFrame(payload: Array[Byte], offsetMs: Long,
      timeoutSec: Long = 20L): Option[Array[Byte]] =
    commandTemplate.flatMap(tmpl =>
      withPayloadFile(payload)(
        extractFrameFromFile(tmpl, _, offsetMs, timeoutSec)))

  /** Write `payload` to a temp file for the scope of `f`, always
    * deleting after — lets a multi-frame caller pay the payload write
    * ONCE per video instead of once per frame. */
  def withPayloadFile[T](payload: Array[Byte])(f: String => T): T = {
    val file = java.io.File.createTempFile("graft_vid_", ".bin")
    try {
      java.nio.file.Files.write(file.toPath, payload)
      f(file.getAbsolutePath)
    } finally { file.delete(): Unit }
  }

  /** Decode ONE frame at `offsetMs` from an on-disk payload. None when
    * the process fails, times out, or emits nothing - callers must fall
    * back. Two hazards of naive ProcessBuilder use are handled
    * explicitly (r10 review): stderr drains on a daemon thread (an
    * unread full stderr pipe deadlocks the child against our stdout
    * read), and a daemon WATCHDOG destroys the process at the deadline
    * even while stdout is still open - a bare `readAllBytes` would
    * block forever on a hung decoder and a later `waitFor(timeout)`
    * would never be reached, making the bound meaningless. */
  def extractFrameFromFile(tmpl: Seq[String], path: String, offsetMs: Long,
      timeoutSec: Long = 20L): Option[Array[Byte]] =
    try {
      val cmd = tmpl.map(_
        .replace("{IN}", path)
        .replace("{SEC}", (offsetMs / 1000.0).toString))
      val p = new ProcessBuilder(cmd: _*).start()
      p.getOutputStream.close()
      val errDrain = new Thread(() => {
        try {
          val buf = new Array[Byte](8192)
          val es = p.getErrorStream
          while (es.read(buf) != -1) ()
        } catch { case _: Exception => () }
      })
      errDrain.setDaemon(true); errDrain.start()
      val killer = new Thread(() => {
        try {
          if (!p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
            p.destroyForcibly(); ()
          }
        } catch { case _: InterruptedException => () }
      })
      killer.setDaemon(true); killer.start()
      val out = p.getInputStream.readAllBytes()
      val done = p.waitFor(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)
      if (done && p.exitValue() == 0 && out.nonEmpty) Some(out)
      else { if (!done) p.destroyForcibly(); None }
    } catch { case _: Exception => None }
}

/** Real in-JVM codecs: `javax.imageio` (PNG/JPEG/BMP/GIF) and
  * `javax.sound.sampled` (WAV/PCM). Format sniffing is magic-byte based so
  * undecodable payloads cost one header check, not a thrown exception. */
object MultimodalCodecs {

  /** Magic-byte sniff → media kind, or None for unknown formats. */
  def sniff(b: Array[Byte]): Option[String] = {
    def at(i: Int, v: Int) = i < b.length && (b(i) & 0xff) == v
    if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) Some("image/png")
    else if (at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) Some("image/jpeg")
    else if (at(0, 'B') && at(1, 'M')) Some("image/bmp")
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F')) Some("image/gif")
    else if (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
      at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) Some("audio/wav")
    else if (at(4, 'f') && at(5, 't') && at(6, 'y') && at(7, 'p')) Some("video/mp4")
    else if (at(0, 0x1a) && at(1, 0x45) && at(2, 0xdf) && at(3, 0xa3))
      Some("video/x-matroska")
    else None
  }

  // ---- ISO-BMFF (MP4/MOV) box parsing — REAL header metadata, no codec.
  // Container-format geometry only needs byte walking: mvhd carries
  // timescale/duration, the video trak's tkhd its 16.16 display size, and
  // stts the sample (frame) count as an entry sum.

  private def be32(b: Array[Byte], i: Int): Long =
    (((b(i) & 0xff).toLong << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)) & 0xffffffffL
  private def be64(b: Array[Byte], i: Int): Long =
    (be32(b, i) << 32) | be32(b, i + 4)

  /** Walk the ISO-BMFF boxes in `[from, to)`, handing each (type,
    * payloadStart, payloadEnd) to `f`. Stops at the first malformed box
    * (undersized header, size past the range) rather than throwing. */
  private def walkBoxes(b: Array[Byte], from: Int, to: Int)
      (f: (String, Int, Int) => Unit): Unit = {
    var i = from
    var ok = true
    while (ok && i + 8 <= to) {
      var size = be32(b, i)
      var hdr = 8
      if (size == 1L && i + 16 <= to) { size = be64(b, i + 8); hdr = 16 }
      else if (size == 0L) size = (to - i).toLong
      if (size < hdr || size > (to - i).toLong) ok = false
      else {
        val typ = new String(b, i + 4, 4, "ISO-8859-1")
        f(typ, i + hdr, i + size.toInt)
        i += size.toInt
      }
    }
  }

  /** MP4 header metadata: (durationMs, videoFrameCount, width, height).
    * Duration from `moov/mvhd` (version 0 and 1 layouts); frame count =
    * the `stts` entry-count sum of every trak whose `hdlr` handler is
    * `vide`; display size from that trak's `tkhd` 16.16 fixed-point
    * fields. Pure byte walking over container boxes — no video codec is
    * involved, so this is exact for any spec-conformant file. */
  def mp4Meta(b: Array[Byte]): Option[(Long, Long, Int, Int)] = {
    if (!sniff(b).contains("video/mp4")) return None
    var timescale = 0L; var dur = 0L; var frames = 0L
    var width = 0; var height = 0
    walkBoxes(b, 0, b.length) {
      case ("moov", ms, me) => walkBoxes(b, ms, me) {
        case ("mvhd", s, e) if e - s >= 20 =>
          val v = b(s) & 0xff
          if (v == 1 && e - s >= 32) {
            timescale = be32(b, s + 20); dur = be64(b, s + 24)
          } else { timescale = be32(b, s + 12); dur = be32(b, s + 16) }
        case ("trak", ts, te) =>
          var handler = ""
          var tFrames = 0L; var tw = 0; var th = 0
          def dive(from: Int, to: Int): Unit = walkBoxes(b, from, to) {
            case ("tkhd", s, e) =>
              // width/height (16.16 fixed) after ver+flags(4) +
              // times/id/duration (20 v0 / 32 v1) + layer..matrix (52)
              val v = b(s) & 0xff
              val off = s + (if (v == 1) 88 else 76)
              if (off + 8 <= e) {
                tw = be32(b, off).toInt >>> 16
                th = be32(b, off + 4).toInt >>> 16
              }
            case ("hdlr", s, e) if e - s >= 12 =>
              handler = new String(b, s + 8, 4, "ISO-8859-1")
            case ("stts", s, e) if e - s >= 8 =>
              val n = be32(b, s + 4).toInt
              var k = 0
              while (k < n && s + 8 + 8 * k + 8 <= e) {
                tFrames += be32(b, s + 8 + 8 * k); k += 1
              }
            case (t, s, e) if t == "mdia" || t == "minf" || t == "stbl" =>
              dive(s, e)
            case _ =>
          }
          dive(ts, te)
          if (handler == "vide") {
            frames += tFrames
            if (tw > 0) { width = tw; height = th }
          }
        case _ =>
      }
      case _ =>
    }
    if (timescale <= 0) None
    else Some((dur * 1000L / timescale, frames, width, height))
  }

  // ---- Matroska/EBML parsing — duration from Segment/Info.

  /** Walk EBML elements in `[from, to)`: (id with marker bits, payload
    * start, payload end). Unknown-size elements (all size bits set)
    * extend to the end of the enclosing range, per the EBML spec. */
  private def ebmlWalk(b: Array[Byte], from: Int, to: Int)
      (f: (Long, Int, Int) => Unit): Unit = {
    var i = from
    var ok = true
    while (ok && i < to) {
      val idLen = Integer.numberOfLeadingZeros(b(i) & 0xff) - 23
      if (idLen < 1 || idLen > 4 || i + idLen > to) ok = false
      else {
        var id = 0L
        var k = 0
        while (k < idLen) { id = (id << 8) | (b(i + k) & 0xff); k += 1 }
        val j = i + idLen
        val szLen = if (j < to)
          Integer.numberOfLeadingZeros(b(j) & 0xff) - 23 else 0
        if (szLen < 1 || szLen > 8 || j + szLen > to) ok = false
        else {
          var size = (b(j) & (0xff >>> szLen)).toLong
          var allOnes = (b(j) & 0xff) == (0xff >>> (szLen - 1))
          k = 1
          while (k < szLen) {
            val v = b(j + k) & 0xff
            allOnes &&= v == 0xff
            size = (size << 8) | v
            k += 1
          }
          val start = j + szLen
          val end =
            if (allOnes) to
            else if (size > (to - start).toLong) { ok = false; to }
            else start + size.toInt
          if (ok) { f(id, start, end); i = end }
        }
      }
    }
  }

  /** MKV/WebM duration in milliseconds from `Segment/Info`:
    * `Duration` (float ticks, id 0x4489) × `TimestampScale` (ns per tick,
    * id 0x2AD7B1, default 1 000 000). Pure EBML vint walking. */
  def mkvDurationMs(b: Array[Byte]): Option[Long] = {
    if (!sniff(b).contains("video/x-matroska")) return None
    var scaleNs = 1000000L
    var durTicks = Double.NaN
    ebmlWalk(b, 0, b.length) {
      case (0x18538067L, ss, se) => ebmlWalk(b, ss, se) {
        case (0x1549a966L, is, ie) => ebmlWalk(b, is, ie) {
          case (0x2ad7b1L, s, e) =>
            var v = 0L
            var k = s
            while (k < e) { v = (v << 8) | (b(k) & 0xff); k += 1 }
            if (v > 0) scaleNs = v
          case (0x4489L, s, e) if e - s == 4 =>
            durTicks = java.lang.Float.intBitsToFloat(be32(b, s).toInt).toDouble
          case (0x4489L, s, e) if e - s == 8 =>
            durTicks = java.lang.Double.longBitsToDouble(be64(b, s))
          case _ =>
        }
        case _ =>
      }
      case _ =>
    }
    if (durTicks.isNaN) None
    else Some(math.round(durTicks * scaleNs / 1e6))
  }

  /** REAL container-header duration for MP4 (`mvhd`) and MKV
    * (`Segment/Info/Duration`); None for formats whose duration genuinely
    * needs a codec (those fall to [[MultimodalStubs.durationMsStub]]). */
  def videoDurationMs(b: Array[Byte]): Option[Long] = sniff(b) match {
    case Some("video/mp4") => mp4Meta(b).map(_._1)
    case Some("video/x-matroska") => mkvDurationMs(b)
    case _ => None
  }

  /** REAL frame count for MP4 (video-trak `stts` entry sum). */
  def videoFrameCount(b: Array[Byte]): Option[Long] =
    mp4Meta(b).map(_._2)

  // All payloads are in-memory byte arrays: ImageIO's default FILE-backed
  // stream cache writes a temp file per read/write — pure /tmp churn here
  // (and the dominant variance in codec-bound timings). Disable once.
  javax.imageio.ImageIO.setUseCache(false)

  private def readImage(b: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b)))
    catch { case _: Exception => None }

  /** (modality, width, height, sampleRateHz) for decodable payloads.
    * MP4 dimensions come from the video trak's `tkhd` box — REAL header
    * parsing, not the stub (which now covers only formats where even the
    * container geometry needs a codec). */
  def decodeMeta(b: Array[Byte]): Option[(String, Int, Int, Int)] =
    sniff(b).flatMap {
      case m if m.startsWith("image/") =>
        readImage(b).map(img => (m, img.getWidth, img.getHeight, 0))
      case m @ "audio/wav" =>
        try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(b))
          val rate = in.getFormat.getSampleRate.toInt
          in.close()
          Some((m, 0, 0, rate))
        } catch { case _: Exception => None }
      case m @ "video/mp4" =>
        mp4Meta(b).map { case (_, _, w, h) => (m, w, h, 0) }
      case m @ "video/x-matroska" =>
        mkvDurationMs(b).map(_ => (m, 0, 0, 0))
      case _ => None
    }

  /** Bilinear-scaled PNG re-encode for image payloads. */
  def resizeImage(b: Array[Byte], w: Int, h: Int): Option[Array[Byte]] =
    sniff(b).filter(_.startsWith("image/")).flatMap(_ => readImage(b)).map { img =>
      val out = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
      g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

  /** Real features: images → `dims` grid-mean-pooled luminance cells
    * (row-major over a near-square grid); WAV → per-window RMS energy of
    * the PCM samples. None for undecodable payloads. */
  def features(b: Array[Byte], dims: Int): Option[Array[Float]] =
    sniff(b).flatMap {
      case m if m.startsWith("image/") => readImage(b).map(imageFeatures(_, dims))
      case "audio/wav" => wavSamples(b).map(rmsWindows(_, dims))
      case _ => None
    }

  private def imageFeatures(img: java.awt.image.BufferedImage,
      dims: Int): Array[Float] = {
    val gx = math.max(1, math.sqrt(dims.toDouble).toInt)
    val gy = math.max(1, (dims + gx - 1) / gx)
    val out = new Array[Float](dims)
    val counts = new Array[Int](dims)
    val (w, h) = (img.getWidth, img.getHeight)
    var y = 0
    while (y < h) {
      val cy = math.min(gy - 1, y * gy / h)
      var x = 0
      while (x < w) {
        val cx = math.min(gx - 1, x * gx / w)
        val cell = cy * gx + cx
        if (cell < dims) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000.0f
          out(cell) += lum
          counts(cell) += 1
        }
        x += 1
      }
      y += 1
    }
    var i = 0
    while (i < dims) { if (counts(i) > 0) out(i) /= counts(i); i += 1 }
    out
  }

  /** 64-bit difference hash (dHash) of an image payload — the standard
    * perceptual fingerprint for image near-dup detection: area-mean the
    * decoded luminance onto a 9×8 grid, set bit r·8+c iff cell (r, c+1)
    * is strictly brighter than cell (r, c). All-integer arithmetic
    * (luminance ×1000 sums; cross-multiplied mean comparison), so the
    * hash is bit-exact across JVMs — and EXACTLY invariant under a
    * uniform brightness shift (every cell mean shifts equally, so no
    * difference bit can flip), which is what makes it a CONTENT hash
    * where sha256 of the bytes is not. None for non-image payloads. */
  def dHash64(b: Array[Byte]): Option[Long] =
    sniff(b).filter(_.startsWith("image/")).flatMap(_ => readImage(b)).map { img =>
      val gx = 9; val gy = 8
      val sums = new Array[Long](gx * gy)
      val counts = new Array[Long](gx * gy)
      val (w, h) = (img.getWidth, img.getHeight)
      var y = 0
      while (y < h) {
        val cy = math.min(gy - 1, y * gy / h)
        var x = 0
        while (x < w) {
          val cx = math.min(gx - 1, x * gx / w)
          val rgb = img.getRGB(x, y)
          val lum1000 = ((rgb >> 16) & 0xff) * 299L +
            ((rgb >> 8) & 0xff) * 587L + (rgb & 0xff) * 114L
          sums(cy * gx + cx) += lum1000
          counts(cy * gx + cx) += 1
          x += 1
        }
        y += 1
      }
      var hash = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          val a = r * gx + c
          val b2 = r * gx + c + 1
          // mean(b2) > mean(a) without division: exact integer cross-mul
          if (counts(a) > 0 && counts(b2) > 0 &&
              sums(b2) * counts(a) > sums(a) * counts(b2))
            hash |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      hash
    }

  /** Deterministic procedural grayscale PNG from a seed — the
    * image-corpus stand-in for this container (no real image corpus
    * ships with the testdata; a real pipeline points [[Multimodal]] at
    * its binary column instead). Pixel (x, y) luminance comes from a
    * splitmix64 finalizer over seed+pixelIndex (decorrelated — a plain
    * `seed[(y·w+x) mod 16]` tiling aliased EVERY 4×4 dHash cell onto the
    * full seed multiset, collapsing all hashes to 0), scaled into
    * [64, 223] so a brightness shift ≤ 32 is EXACTLY uniform (no
    * clamping): [[dHash64]] is provably invariant to it while the
    * payload bytes (and sha256) change. */
  def syntheticImage(seed: Array[Byte], w: Int = 36, h: Int = 32,
      brightness: Int = 0): Array[Byte] = {
    require(brightness >= 0 && brightness <= 32, "brightness in [0, 32]")
    var s0 = 0L
    var i = 0
    while (i < seed.length) { s0 = s0 * 31 + (seed(i) & 0xff); i += 1 }
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = ((mix(s0 + y * w + x) & 0xffL).toInt >> 1) + 64 + brightness
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit audio fingerprint: the sign of each delta between 65
    * consecutive RMS-energy windows of the decoded PCM — the standard
    * energy-contour fingerprint for audio near-dup detection. EXACTLY
    * invariant under power-of-two gain (all the float ops — x/32768,
    * x², the sum fold, sqrt — scale by exact powers of two, so every
    * window RMS scales exactly and no sign flips), while the payload
    * bytes (and sha256) change: the audio twin of [[dHash64]]'s
    * brightness invariance. None for non-WAV payloads. */
  def audioFp64(b: Array[Byte]): Option[Long] =
    wavSamples(b).map { samples =>
      val w = rmsWindows(samples, 65)
      var h = 0L
      var i = 0
      while (i < 64) {
        if (w(i + 1) > w(i)) h |= 1L << i
        i += 1
      }
      h
    }

  /** Deterministic procedural WAV (mono 16-bit PCM, 8 kHz) from a seed —
    * the audio-corpus stand-in (same role as [[syntheticImage]]).
    * Samples are splitmix64 noise in [−4096, 4095] shifted LEFT by
    * `gainShift` (power-of-two gain, exact in int16 up to shift 2), so
    * two renders of the same seed at different gains are byte-different
    * files with identical [[audioFp64]] fingerprints. */
  def syntheticWav(seed: Array[Byte], gainShift: Int = 0): Array[Byte] = {
    val nSamples = 6600
    require(gainShift >= 0 && gainShift <= 2, "gainShift in [0, 2]")
    var s0 = 0L
    var i = 0
    while (i < seed.length) { s0 = s0 * 31 + (seed(i) & 0xff); i += 1 }
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val pcm = new Array[Short](nSamples)
    i = 0
    while (i < nSamples) {
      val base = ((mix(s0 + i) & 0x1fffL) - 4096L).toInt
      pcm(i) = (base << gainShift).toShort
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bb = java.nio.ByteBuffer.allocate(nSamples * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    pcm.foreach(bb.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, nSamples.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def wavSamples(b: Array[Byte]): Option[Array[Float]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val fmt = in.getFormat
      val bytes = in.readAllBytes()
      in.close()
      if (fmt.getSampleSizeInBits != 16) None
      else {
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
          else java.nio.ByteOrder.LITTLE_ENDIAN
        val sb = java.nio.ByteBuffer.wrap(bytes).order(order).asShortBuffer()
        val out = new Array[Float](sb.remaining())
        var i = 0
        while (sb.hasRemaining) { out(i) = sb.get() / 32768.0f; i += 1 }
        Some(out)
      }
    } catch { case _: Exception => None }

  private def rmsWindows(samples: Array[Float], dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    if (samples.isEmpty) return out
    val win = math.max(1, samples.length / dims)
    var d = 0
    while (d < dims) {
      val from = d * win
      val to = if (d == dims - 1) samples.length else math.min(samples.length, from + win)
      var acc = 0.0
      var i = from
      while (i < to) { acc += samples(i) * samples(i); i += 1 }
      out(d) = if (to > from) math.sqrt(acc / (to - from)).toFloat else 0.0f
      d += 1
    }
    out
  }
}

/** Clearly-marked deterministic stand-ins for formats with no in-JVM
  * codec (video, compressed audio). Deterministic so tests are stable. */
object MultimodalStubs {
  import Multimodal._

  /** STUB: pretends to decode a payload; derives fake dimensions from a
    * byte checksum. Replace with a real decoder via [[MultimodalCodecs]]. */
  def decodeStub(r: MediaRow): MediaRow = {
    var acc = 0L
    var i = 0
    while (i < r.payload.length) { acc = acc * 31 + (r.payload(i) & 0xff); i += 1 }
    val w = 64 + math.floorMod(acc, 193L).toInt
    val h = 64 + math.floorMod(acc / 193L, 157L).toInt
    r.copy(meta = r.meta.copy(width = w, height = h,
      sampleRateHz = 8000 + math.floorMod(acc, 8L).toInt * 1000))
  }

  /** STUB: pseudo-duration (ms) from the payload size — reached only for
    * formats whose container header [[MultimodalCodecs.videoDurationMs]]
    * cannot parse (MP4/MKV durations are real). */
  def durationMsStub(r: MediaRow): Long = math.max(1L, r.meta.byteLen * 4L)

  /** STUB: deterministic pseudo-frame bytes for (payload, frameIdx) —
    * stands in for an actual decoded frame. */
  def frameStub(payload: Array[Byte], frameIdx: Int): Array[Byte] = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(payload)
    md.update(Array[Byte](
      (frameIdx >> 24).toByte, (frameIdx >> 16).toByte,
      (frameIdx >> 8).toByte, frameIdx.toByte))
    md.digest()
  }

  /** STUB: deterministic fake feature vector from payload bytes. */
  def featureStub(payload: Array[Byte], dims: Int): Array[Float] = {
    val out = new Array[Float](dims)
    var acc = 1469598103934665603L // FNV offset basis
    var i = 0
    while (i < payload.length) {
      acc = (acc ^ (payload(i) & 0xff)) * 1099511628211L
      out(math.floorMod(i, dims)) += ((acc % 1000L) / 1000.0f)
      i += 1
    }
    out
  }
}
