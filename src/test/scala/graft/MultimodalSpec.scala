package graft

import graft.ext.{Multimodal, MultimodalCodecs}

/** Real-codec multimodal path: PNG/WAV payloads decoded, resized, and
  * featurized with the in-JVM codecs (javax.imageio / javax.sound);
  * undecodable formats fall back to the deterministic stubs through the
  * same mapPartitions seam. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._
  implicit val s: org.apache.spark.sql.SparkSession = spark

  private def pngBytes(w: Int, h: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def wavBytes(rate: Float, samples: Array[Short]): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, 1, true, false)
    val bb = java.nio.ByteBuffer.allocate(samples.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    samples.foreach(bb.putShort)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bb.array()), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def media(rows: (Long, Array[Byte], String)*) =
    Multimodal.asMediaBinary(rows.toSeq.toDF("doc_id", "payload", "modality"),
      "doc_id", "payload", "modality").as[Multimodal.MediaRow]

  test("image payloads decode to real dimensions, resize rewrites the payload, features are grid luminance") {
    val png = pngBytes(32, 20, 0x808080) // constant mid-gray
    val m = media((1L, png, "image"))
    val dec = Multimodal.decode(m).collect().head
    assert(dec.meta.modality == "image/png")
    assert(dec.meta.width == 32 && dec.meta.height == 20)
    // resize genuinely re-encodes: re-decoding the new payload shows 16×10
    val resized = Multimodal.resize(Multimodal.decode(m), 16, 10).collect().head
    val Some((_, rw, rh, _)) = MultimodalCodecs.decodeMeta(resized.payload)
    assert(rw == 16 && rh == 10)
    assert(resized.meta.byteLen == resized.payload.length.toLong)
    // constant gray 128 → every pooled cell's luminance is exactly 128
    val feats = Multimodal.extractFeatures(Multimodal.decode(m), dims = 4)
      .collect().head
    assert(feats.features.length == 4)
    assert(feats.features.forall(f => math.abs(f - 128.0f) < 0.5f))
  }

  test("wav payloads decode to the real sample rate with RMS-energy features") {
    val tone = Array.tabulate[Short](8000)(i => (math.sin(i * 0.1) * 16384).toShort)
    val wav = wavBytes(8000f, tone)
    val m = media((1L, wav, "audio"))
    val dec = Multimodal.decode(m).collect().head
    assert(dec.meta.modality == "audio/wav")
    assert(dec.meta.sampleRateHz == 8000)
    val feats = Multimodal.extractFeatures(Multimodal.decode(m), dims = 8)
      .collect().head
    // sine at amplitude 0.5 → window RMS ≈ 0.5/√2
    val expect = 0.5f / math.sqrt(2.0).toFloat
    assert(feats.features.length == 8)
    assert(feats.features.forall(f => math.abs(f - expect) < 0.02f))
  }

  test("undecodable payloads fall back to the deterministic stub without breaking the flow") {
    val junk = Array[Byte](1, 2, 3, 4, 5, 6, 7)
    val m = media((9L, junk, "video"))
    val dec = Multimodal.decode(m).collect().head
    // stub keeps the declared modality and synthesizes plausible dims
    assert(dec.meta.modality == "video")
    assert(dec.meta.width >= 64 && dec.meta.height >= 64)
    val feats = Multimodal.extractFeatures(m, dims = 6).collect().head
    assert(feats.features.length == 6)
    // mixed batch: one decodable + one not, row count preserved
    val mixed = media((1L, pngBytes(8, 8, 0xffffff), "image"), (2L, junk, "video"))
    assert(Multimodal.decode(mixed).collect().length == 2)
  }

  // ---- minimal spec-conformant container fixtures, built box-by-box

  private def be32(v: Long): Array[Byte] = Array(
    (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)

  private def mp4Box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(8L + body.length) ++ typ.getBytes("ISO-8859-1") ++ body
  }

  /** 5-second, 120-frame, 320x240 MP4: ftyp + moov(mvhd, trak(tkhd,
    * mdia(hdlr 'vide', minf(stbl(stts))))). */
  private def mp4Bytes(timescale: Long, duration: Long,
      sttsEntries: Seq[(Long, Long)], w: Int, h: Int): Array[Byte] = {
    val ftyp = mp4Box("ftyp", "isom".getBytes, be32(512), "isommp41".getBytes)
    val mvhd = mp4Box("mvhd", Array[Byte](0, 0, 0, 0),
      be32(0), be32(0), be32(timescale), be32(duration))
    // ver+flags(4) + v0 times/id/duration(20) + layer..matrix(52) + w + h
    val tkhd = mp4Box("tkhd", new Array[Byte](76),
      be32(w.toLong << 16), be32(h.toLong << 16))
    val hdlr = mp4Box("hdlr", new Array[Byte](8), "vide".getBytes,
      new Array[Byte](13))
    val stts = mp4Box("stts", Array[Byte](0, 0, 0, 0),
      be32(sttsEntries.length),
      sttsEntries.toArray.flatMap { case (n, d) => be32(n) ++ be32(d) })
    val trak = mp4Box("trak", tkhd,
      mp4Box("mdia", hdlr, mp4Box("minf", mp4Box("stbl", stts))))
    ftyp ++ mp4Box("moov", mvhd, trak) ++ mp4Box("mdat", Array[Byte](1, 2, 3))
  }

  private def ebmlEl(id: Array[Byte], payload: Array[Byte]): Array[Byte] = {
    require(payload.length < 127)
    id ++ Array((0x80 | payload.length).toByte) ++ payload
  }

  /** MKV with TimestampScale `scaleNs` and float32 Duration `durTicks`. */
  private def mkvBytes(scaleNs: Long, durTicks: Float): Array[Byte] = {
    val header = ebmlEl(Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte),
      Array.empty[Byte])
    val scale = ebmlEl(Array(0x2a, 0xd7, 0xb1).map(_.toByte),
      Array((scaleNs >> 16).toByte, (scaleNs >> 8).toByte, scaleNs.toByte))
    val dur = ebmlEl(Array(0x44, 0x89).map(_.toByte),
      be32(java.lang.Float.floatToIntBits(durTicks).toLong & 0xffffffffL))
    val info = ebmlEl(Array(0x15, 0x49, 0xa9, 0x66).map(_.toByte), scale ++ dur)
    header ++ ebmlEl(Array(0x18, 0x53, 0x80, 0x67).map(_.toByte), info)
  }

  test("mp4 header metadata is real: mvhd duration, stts frame count, tkhd size") {
    val mp4 = mp4Bytes(timescale = 1000L, duration = 5000L,
      sttsEntries = Seq((100L, 512L), (20L, 512L)), w = 320, h = 240)
    assert(MultimodalCodecs.sniff(mp4).contains("video/mp4"))
    assert(MultimodalCodecs.videoDurationMs(mp4).contains(5000L))
    assert(MultimodalCodecs.videoFrameCount(mp4).contains(120L))
    val Some((m, w, h, rate)) = MultimodalCodecs.decodeMeta(mp4)
    assert(m == "video/mp4" && w == 320 && h == 240 && rate == 0)
    // a 90kHz-timescale variant (the common video clock) rounds correctly
    val mp4b = mp4Bytes(90000L, 270000L, Seq((75L, 3600L)), 1280, 720)
    assert(MultimodalCodecs.videoDurationMs(mp4b).contains(3000L))
    assert(MultimodalCodecs.videoFrameCount(mp4b).contains(75L))
    // decode() integrates it: real dims, declared modality refined
    val dec = Multimodal.decode(media((7L, mp4, "video"))).collect().head
    assert(dec.meta.modality == "video/mp4")
    assert(dec.meta.width == 320 && dec.meta.height == 240)
  }

  test("mkv duration is real: EBML Segment/Info Duration x TimestampScale") {
    val mkv = mkvBytes(1000000L, 12345.0f)
    assert(MultimodalCodecs.sniff(mkv).contains("video/x-matroska"))
    assert(MultimodalCodecs.videoDurationMs(mkv).contains(12345L))
    // non-default timescale: 2ms ticks, 100 ticks -> 200ms
    assert(MultimodalCodecs.videoDurationMs(mkvBytes(2000000L, 100.0f))
      .contains(200L))
    // no codec for pixels: frame count stays None for mkv
    assert(MultimodalCodecs.videoFrameCount(mkv).isEmpty)
  }

  test("external video decode: gated detection, real process plumbing, clean fallback") {
    import graft.ext.ExternalVideoDecoder
    // this container ships no decoder: detection must be None and
    // extractFrame must defer to the caller's fallback (the stub-based
    // sampling determinism the other tests pin)
    sys.props.remove("graft.videoDecoder")
    assert(ExternalVideoDecoder.commandTemplate.isEmpty)
    assert(ExternalVideoDecoder.extractFrame(Array[Byte](1, 2, 3), 0L).isEmpty)
    // inject a FAKE decoder (a script emitting deterministic bytes) to
    // exercise the real plumbing end-to-end: temp-file handoff, {SEC}
    // substitution, process exec, stdout capture, exit-code gate
    val script = java.io.File.createTempFile("graft_fake_dec_", ".sh")
    java.nio.file.Files.writeString(script.toPath,
      "#!/bin/sh\nprintf 'FRAME@%s:' \"$2\"\ncat \"$1\" | head -c 4\n")
    script.setExecutable(true)
    try {
      sys.props("graft.videoDecoder") = s"${script.getAbsolutePath} {IN} {SEC}"
      val out = ExternalVideoDecoder.extractFrame("MKV1rest".getBytes, 1500L)
      assert(out.map(new String(_)).contains("FRAME@1.5:MKV1"))
      // a failing decoder (exit != 0) falls back to None, not an error
      sys.props("graft.videoDecoder") = "/bin/false {IN} {SEC}"
      assert(ExternalVideoDecoder.extractFrame(Array[Byte](9), 0L).isEmpty)
      // and sampleFrames routes frame bytes through the decoder when on
      sys.props("graft.videoDecoder") = s"${script.getAbsolutePath} {IN} {SEC}"
      val fr = Multimodal.sampleFrames(
        media((9L, "VIDEOPAYLOAD".getBytes, "video")),
        everyMs = 60000L, maxFrames = 1).collect()
      assert(fr.length == 1 &&
        new String(fr(0).frame) == "FRAME@0.0:VIDE")
    } finally {
      sys.props.remove("graft.videoDecoder")
      script.delete()
    }
  }

  test("real-ffmpeg integration: a genuine MP4 decodes to PNG frames (skips when no decoder)") {
    // r10 VERDICT task 6: the external-decoder template has only been
    // proven against a fake script; when the host actually has ffmpeg,
    // prove it against a real process and a real container. Cancels
    // (not fails) on hosts without ffmpeg — the declared (hashed)
    // queries never depend on it either way.
    import graft.ext.ExternalVideoDecoder
    val ffmpeg = sys.env.getOrElse("PATH", "").split(":")
      .map(d => new java.io.File(d, "ffmpeg")).find(_.canExecute)
    assume(ffmpeg.isDefined, "no ffmpeg on PATH — real-decoder path not testable here")
    // synthesize a real 2s 64x48 test-pattern MP4 with ffmpeg itself
    val mp4File = java.io.File.createTempFile("graft_real_", ".mp4")
    val gen = new ProcessBuilder(ffmpeg.get.getAbsolutePath, "-hide_banner",
      "-loglevel", "error", "-y", "-f", "lavfi",
      "-i", "testsrc=duration=2:size=64x48:rate=5",
      "-pix_fmt", "yuv420p", mp4File.getAbsolutePath).inheritIO().start()
    assert(gen.waitFor(60, java.util.concurrent.TimeUnit.SECONDS)
      && gen.exitValue() == 0, "ffmpeg fixture synthesis failed")
    try {
      val payload = java.nio.file.Files.readAllBytes(mp4File.toPath)
      assert(MultimodalCodecs.sniff(payload).contains("video/mp4"))
      // auto-detection must find PATH ffmpeg with no property set
      sys.props.remove("graft.videoDecoder")
      assert(ExternalVideoDecoder.commandTemplate.isDefined)
      val frame = ExternalVideoDecoder.extractFrame(payload, 1000L)
      assert(frame.isDefined, "real ffmpeg returned no frame")
      val png = frame.get
      assert(png.length > 8 && (png(0) & 0xff) == 0x89 &&
        new String(png.slice(1, 4)) == "PNG",
        "decoded frame is not a PNG")
      // and through the distributed seam: sampleFrames routes every
      // sampled offset through the real decoder (duration from the real
      // mvhd box -> 2 frames at 1s sampling)
      val fr = Multimodal.sampleFrames(media((11L, payload, "video")),
        everyMs = 1000L, maxFrames = 8).collect()
      assert(fr.length == 2 && fr.forall(f => (f.frame(0) & 0xff) == 0x89))
      assert(fr.map(_.offset_ms).sorted.toSeq == Seq(0L, 1000L))
    } finally {
      sys.props.remove("graft.videoDecoder")
      mp4File.delete()
    }
  }

  test("frame sampling uses the real mp4 duration, stub only for unparseable formats") {
    val mp4 = mp4Bytes(1000L, 2600L, Seq((65L, 40L)), 64, 48)
    val frames = Multimodal.sampleFrames(media((3L, mp4, "video")),
      everyMs = 1000L, maxFrames = 8).collect()
    assert(frames.length == 2) // 2600ms / 1000ms = 2 sampled frames
    assert(frames.map(_.offset_ms).sorted.toSeq == Seq(0L, 1000L))
  }

  test("frame sampling explodes a video payload into capped, keyed frames") {
    val payload = Array.tabulate[Byte](400)(i => (i % 97).toByte) // dur stub 1600ms
    val m = media((5L, payload, "video"))
    val frames = Multimodal.sampleFrames(m, everyMs = 500L, maxFrames = 8)
      .collect().sortBy(_.frame_idx)
    assert(frames.length == 3) // 1600ms / 500ms
    assert(frames.map(_.offset_ms).toSeq == Seq(0L, 500L, 1000L))
    assert(frames.forall(_.doc_id == 5L))
    // frames are distinct per index but deterministic per (payload, idx)
    assert(frames.map(_.frame.toSeq).distinct.length == 3)
    val again = Multimodal.sampleFrames(m, everyMs = 500L, maxFrames = 8)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame.toSeq) sameElements again.map(_.frame.toSeq))
    // maxFrames caps long payloads; every payload yields at least 1 frame
    assert(Multimodal.sampleFrames(m, everyMs = 100L, maxFrames = 4)
      .collect().length == 4)
    assert(Multimodal.sampleFrames(media((6L, Array[Byte](1), "video")),
      everyMs = 60000L, maxFrames = 8).collect().length == 1)
    // partition-count invariance of the exploded frame set
    val many = media((0 until 20).map(i =>
      (i.toLong, Array.tabulate[Byte](300)(j => ((i + j) % 83).toByte),
        "video")): _*)
    val a = Multimodal.sampleFrames(many.repartition(1), 250L, 5)
      .collect().map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet
    val b = Multimodal.sampleFrames(many.repartition(7), 250L, 5)
      .collect().map(f => (f.doc_id, f.frame_idx, f.frame.toSeq)).toSet
    assert(a == b)
  }

  test("dHash is exactly brightness-invariant, byte-sensitive, and far for unrelated images") {
    import graft.ext.MultimodalCodecs
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val seedA = java.security.MessageDigest.getInstance("MD5")
      .digest("image A content".getBytes("UTF-8"))
    val seedB = java.security.MessageDigest.getInstance("MD5")
      .digest("something else entirely".getBytes("UTF-8"))
    val a0 = MultimodalCodecs.syntheticImage(seedA, brightness = 0)
    val a32 = MultimodalCodecs.syntheticImage(seedA, brightness = 32)
    val b0 = MultimodalCodecs.syntheticImage(seedB, brightness = 0)
    // payload bytes differ (sha256-level dedup would miss the twin) ...
    assert(!java.util.Arrays.equals(a0, a32))
    // ... but the perceptual hash is EXACTLY equal under the uniform shift
    val (ha0, ha32, hb0) = (MultimodalCodecs.dHash64(a0).get,
      MultimodalCodecs.dHash64(a32).get, MultimodalCodecs.dHash64(b0).get)
    assert(ha0 == ha32)
    // unrelated content is far (expected hamming ~32 of 64)
    assert(hamming(ha0, hb0) > 12, s"unrelated hamming ${hamming(ha0, hb0)}")
    // non-image payloads hash to None, not garbage
    assert(MultimodalCodecs.dHash64("not an image".getBytes).isEmpty)
  }

  test("dHash survives a real bilinear downscale re-encode (near), phashPairs finds only the pair") {
    import graft.ext.MultimodalCodecs
    implicit val s = spark
    val seed = java.security.MessageDigest.getInstance("MD5")
      .digest("downscale subject".getBytes("UTF-8"))
    val orig = MultimodalCodecs.syntheticImage(seed, w = 72, h = 64)
    val small = MultimodalCodecs.resizeImage(orig, 36, 32).get
    val other = MultimodalCodecs.syntheticImage(java.security.MessageDigest
      .getInstance("MD5").digest("unrelated".getBytes("UTF-8")))
    val hOrig = MultimodalCodecs.dHash64(orig).get
    val hSmall = MultimodalCodecs.dHash64(small).get
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(hOrig, hSmall) <= 6,
      s"rescaled copy drifted to hamming ${hamming(hOrig, hSmall)}")
    import spark.implicits._
    val hashed = Multimodal.dHashes(
      Seq((1L, orig), (2L, small), (3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload")
    val pairs = Multimodal.phashPairs(hashed)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("audioFp64 is exactly gain-invariant, byte-sensitive, far for unrelated audio") {
    val seedA = java.security.MessageDigest.getInstance("MD5")
      .digest("track A".getBytes("UTF-8"))
    val seedB = java.security.MessageDigest.getInstance("MD5")
      .digest("a different track".getBytes("UTF-8"))
    val quiet = MultimodalCodecs.syntheticWav(seedA, gainShift = 0)
    val loud = MultimodalCodecs.syntheticWav(seedA, gainShift = 1)
    val other = MultimodalCodecs.syntheticWav(seedB, gainShift = 0)
    assert(!java.util.Arrays.equals(quiet, loud)) // sha-level dedup misses it
    val (fq, fl, fo) = (MultimodalCodecs.audioFp64(quiet).get,
      MultimodalCodecs.audioFp64(loud).get, MultimodalCodecs.audioFp64(other).get)
    assert(fq == fl, "power-of-two gain must not flip any RMS-delta sign")
    assert(java.lang.Long.bitCount(fq ^ fo) > 12,
      s"unrelated hamming ${java.lang.Long.bitCount(fq ^ fo)}")
    assert(MultimodalCodecs.audioFp64(pngBytes(4, 4, 0)).isEmpty)
    // end-to-end: the banded pair search finds exactly the gain twin
    import spark.implicits._
    val fps = Multimodal.audioFps(
      Seq((1L, quiet), (2L, loud), (3L, other)).toDF("doc_id", "payload"),
      "doc_id", "payload")
    val pairs2 = Multimodal.phashPairs(fps)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs2 == Set((1L, 2L)), s"got $pairs2")
  }
}
