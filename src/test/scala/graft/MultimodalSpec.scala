package graft

import graft.multimodal.{MediaDecode, Multimodal}

/** Multimodal plumbing specs: schema, real decode on true encoded bytes,
  * deterministic fallback decode, and plan-shape properties (payload
  * bytes never fan out).
  */
class MultimodalSpec extends SparkSpec {

  /** True encoded bytes built with the JDK's own encoders — the decode
    * path under test is the independent decode direction. */
  private def imageBytes(fmt: String, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }
  private def pngBytes(w: Int, h: Int): Array[Byte] = imageBytes("png", w, h)
  private def bmpBytes(w: Int, h: Int): Array[Byte] = imageBytes("bmp", w, h)

  /** Minimal canonical WAV: RIFF/WAVE + fmt chunk + empty data chunk. */
  private def wavBytes(sampleRate: Int, bits: Int, channels: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(44).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * bits / 8)
      .putShort((channels * bits / 8).toShort).putShort(bits.toShort)
      .put("data".getBytes("US-ASCII")).putInt(0)
    bb.array()
  }

  /** Canonical WebP container around a VP8L (lossless) bitstream header. */
  private def webpLosslessBytes(w: Int, h: Int, alpha: Boolean): Array[Byte] = {
    val bits = (w - 1) | ((h - 1) << 14) | (if (alpha) 1 << 28 else 0)
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 6)
      .put("WEBP".getBytes("US-ASCII"))
      .put("VP8L".getBytes("US-ASCII")).putInt(5)
      .put(0x2f.toByte).putInt(bits).put(0.toByte) // word-align pad
    bb.array()
  }

  /** Canonical extended-WebP (VP8X) container carrying only the canvas. */
  private def webpExtendedBytes(w: Int, h: Int, alpha: Boolean): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(12 + 8 + 10)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def le24(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 8 + 10)
      .put("WEBP".getBytes("US-ASCII"))
      .put("VP8X".getBytes("US-ASCII")).putInt(10)
      .put((if (alpha) 0x10 else 0x00).toByte).put(Array[Byte](0, 0, 0))
      .put(le24(w - 1)).put(le24(h - 1))
    bb.array()
  }

  /** Minimal ISO-BMFF: ftyp + moov(trak(tkhd v0 with 16.16 geometry)). */
  private def mp4Bytes(w: Int, h: Int): Array[Byte] = {
    val tkhdPayload = 4 + 20 + 16 + 36 + 8 // fullbox + v0 fields + geometry
    val tkhd = 8 + tkhdPayload
    val trak = 8 + tkhd
    val moov = 8 + trak
    val bb = java.nio.ByteBuffer.allocate(16 + moov)
      .order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    bb.putInt(moov).put("moov".getBytes("US-ASCII"))
    bb.putInt(trak).put("trak".getBytes("US-ASCII"))
    bb.putInt(tkhd).put("tkhd".getBytes("US-ASCII"))
    bb.putInt(0)                       // version 0 + flags
    bb.putInt(0).putInt(0).putInt(1).putInt(0).putInt(0) // times/id/rsvd/dur
    bb.put(new Array[Byte](16))        // reserved+layer+altgroup+volume+rsvd
    bb.put(new Array[Byte](36))        // matrix
    bb.putInt(w << 16).putInt(h << 16) // 16.16 fixed geometry
    bb.array()
  }

  test("MediaDecode walks WebP and MP4 headers without any codec library") {
    assert(MediaDecode.decode(webpLosslessBytes(16, 8, alpha = false)) ==
      Some(MediaDecode.Geometry(16, 8, 3)))
    assert(MediaDecode.decode(webpLosslessBytes(640, 480, alpha = true)) ==
      Some(MediaDecode.Geometry(640, 480, 4)))
    assert(MediaDecode.decode(webpExtendedBytes(32, 16, alpha = true)) ==
      Some(MediaDecode.Geometry(32, 16, 4)))
    assert(MediaDecode.decode(mp4Bytes(640, 360)) ==
      Some(MediaDecode.Geometry(640, 360, 3)))
  }

  test("hostile text payloads carrying the WebP/MP4 magics stay undecodable") {
    // RIFF....WEBP spelled by printable text: no VP8/VP8L/VP8X sync bytes
    assert(MediaDecode.sniff("RIFFabcdWEBPVP8 just words here".getBytes("US-ASCII")) == "webp")
    assert(MediaDecode.decode("RIFFabcdWEBPVP8 just words here".getBytes("US-ASCII")).isEmpty)
    // "ftyp" at offset 4 inside ASCII: the leading size field is a
    // ~1.6e9 ASCII quad, far past the payload — rejected before any walk
    assert(MediaDecode.sniff("abcdftyp more innocent text".getBytes("US-ASCII")) == "mp4")
    assert(MediaDecode.decode("abcdftyp more innocent text".getBytes("US-ASCII")).isEmpty)
    // truncated real containers die cleanly
    assert(MediaDecode.decode(webpLosslessBytes(16, 8, alpha = false).take(18)).isEmpty)
    assert(MediaDecode.decode(mp4Bytes(640, 360).take(40)).isEmpty)
  }

  test("MediaDecode extracts TRUE geometry from real PNG/BMP/WAV bytes") {
    assert(MediaDecode.decode(pngBytes(17, 9)) == Some(MediaDecode.Geometry(17, 9, 3)))
    assert(MediaDecode.decode(bmpBytes(33, 21)) == Some(MediaDecode.Geometry(33, 21, 3)))
    assert(MediaDecode.decode(wavBytes(44100, 16, 2)) == Some(MediaDecode.Geometry(44100, 16, 2)))
    // Text bytes (the synthetic corpus) and corrupt media must both be
    // undecodable, not a crash.
    assert(MediaDecode.decode("plain text payload".getBytes("UTF-8")).isEmpty)
    assert(MediaDecode.decode(pngBytes(5, 5).take(20)).isEmpty)
    // Hostile RIFF: negative chunk size must return undecodable, not hang.
    val evil = wavBytes(44100, 16, 2)
    evil(16) = 0xff.toByte; evil(17) = 0xff.toByte
    evil(18) = 0xff.toByte; evil(19) = 0xff.toByte
    assert(MediaDecode.decode(evil).isEmpty)
    // Hostile RIFF: a huge positive size must not wrap the walk offset.
    val wrap = wavBytes(44100, 16, 2)
    wrap(12) = 'j'; wrap(13) = 'u'; wrap(14) = 'n'; wrap(15) = 'k'
    wrap(16) = 0xf5.toByte; wrap(17) = 0xff.toByte
    wrap(18) = 0xff.toByte; wrap(19) = 0x7f.toByte
    assert(MediaDecode.decode(wrap).isEmpty)
    // Undersized fmt chunk (size < 16) must not read the next chunk's
    // bytes as audio geometry.
    val tiny = wavBytes(44100, 16, 2)
    tiny(16) = 4; tiny(17) = 0; tiny(18) = 0; tiny(19) = 0
    assert(MediaDecode.decode(tiny).isEmpty)
  }

  test("decodeFeatures routes real media to true decode and text to the fallback") {
    import spark.implicits._
    val rows = Seq(
      (1L, "image", pngBytes(40, 30), 0L),
      (2L, "image", bmpBytes(12, 8), 0L),
      (3L, "audio", wavBytes(16000, 16, 1), 0L),
      (4L, "image", "not media at all".getBytes("UTF-8"), 16L))
      .toDF("media_id", "kind", "payload", "n_chars")
    val out = Multimodal.decodeFeatures(rows).collect().map(f => f.media_id -> f).toMap
    assert((out(1L).width, out(1L).height, out(1L).channels) == ((40, 30, 3)))
    assert((out(2L).width, out(2L).height, out(2L).channels) == ((12, 8, 3)))
    assert((out(3L).width, out(3L).height, out(3L).channels) == ((16000, 16, 1)))
    // row 4: 16-byte text payload → fallback arithmetic on length
    assert((out(4L).width, out(4L).height, out(4L).channels) == ((16 % 640 + 64, 16 % 480 + 48, 3)))
  }

  test("media table: schema and kind assignment") {
    val m = Multimodal.mediaTable(spark, sfDir)
    assert(m.schema.fieldNames.toSeq == Seq("media_id", "kind", "payload", "n_chars"))
    assert(m.schema("payload").dataType.typeName == "binary")
    val kinds = m.select("kind").distinct().collect().map(_.getString(0)).toSet
    assert(kinds == Set("image", "audio", "video"))
  }

  test("fallback decode is deterministic and preserves row count") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val f1 = Multimodal.decodeFeatures(m).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(m).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.length == m.count())
    assert(f1.forall(r => r.n_bytes > 0 && r.width >= 64 && r.height >= 48))
    assert(f1.filter(_.kind == "audio").forall(_.channels == 1))
  }

  test("resize stub never upscales and respects bounds") {
    val f = Multimodal.decodeFeatures(Multimodal.mediaTable(spark, sfDir))
    val r = Multimodal.resizeStub(f, 128, 128).collect()
    assert(r.forall { row =>
      val outW = row.getAs[Int]("out_w"); val outH = row.getAs[Int]("out_h")
      outW <= 128 && outH <= 128 &&
        outW <= row.getAs[Int]("width") && outH <= row.getAs[Int]("height")
    })
  }

  test("DECLARED mm_resize_geometry over a real-media source dir decodes true pixels") {
    // Round-9 verdict #6: the javax.imageio path exercised by the GATED
    // query, not only unit asserts. A test-local source dir whose
    // documents.parquet carries REAL encoded media in a BINARY `text`
    // column (mediaTable's cast("binary") is then the identity, so the
    // declared query runs verbatim); doc_id mod 3 picks the kind slot
    // (0=image, 1=audio, 2=video). Expected aggregates are computed from
    // the TRUE pixel/PCM geometries through the same resize arithmetic —
    // and shown to DIFFER from what the length-based fallback would
    // produce, so a silent regression to the fallback (e.g. a sniffing
    // bug) fails the assert rather than passing vacuously.
    import spark.implicits._
    val media: Seq[(Long, Array[Byte], (Int, Int, Int))] = Seq(
      (3L, pngBytes(640, 400), (640, 400, 3)),   // image: downscaled
      (6L, bmpBytes(100, 80), (100, 80, 3)),     // image: untouched
      (9L, imageBytes("gif", 300, 299), (300, 299, 3)), // image (gif path)
      (4L, wavBytes(16000, 16, 1), (16000, 16, 1)),     // audio
      (5L, pngBytes(512, 256), (512, 256, 3)))   // video slot, real pixels
    val dir = tempDir("graft-realmedia")
    media.map { case (id, bytes, _) => (id, bytes, "xx", "media", bytes.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("mm_resize_geometry")(spark, dir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def resized(w: Int, h: Int): (Long, Long, Boolean) = {
      val scale = math.min(math.min(256.0 / w, 256.0 / h), 1.0)
      (math.floor(w * scale).toLong, math.floor(h * scale).toLong, scale < 1.0)
    }
    def expect(rows: Seq[(Int, Int, Int)]): (Long, Long, Long, Long) = {
      val rs = rows.map { case (w, h, _) => resized(w, h) }
      (rows.size.toLong, rs.map(_._1).sum, rs.map(_._2).sum,
        rs.map(r => if (r._3) 1L else 0L).sum)
    }
    val kinds = media.groupBy { case (id, _, _) =>
      Seq("image", "audio", "video")((id % 3).toInt)
    }.view.mapValues(_.map(_._3)).toMap
    assert(got.keySet == Set("image", "audio", "video"))
    for ((kind, geoms) <- kinds)
      assert(got(kind) == expect(geoms), s"$kind: got ${got(kind)}")
    // Anti-vacuity: the fallback would have produced different sums.
    val fallback = media.map { case (id, bytes, _) =>
      val n = bytes.length
      (id, ((n % 640 + 64), (n % 480 + 48),
        if ((id % 3) == 1L) 1 else 3))
    }
    val fallbackByKind = fallback.groupBy { case (id, _) =>
      Seq("image", "audio", "video")((id % 3).toInt)
    }.view.mapValues(_.map(_._2)).toMap
    for ((kind, geoms) <- fallbackByKind)
      assert(got(kind) != expect(geoms),
        s"$kind: true-decode aggregate coincides with the fallback — test is vacuous")
  }

  test("frame sample emits only video rows with bounded fan-out") {
    val m = Multimodal.mediaTable(spark, sfDir)
    val frames = Multimodal.frameSample(m)
    // frame rows carry only ids/indices, never the payload column
    assert(frames.schema.fieldNames.toSeq == Seq("media_id", "frame_idx"))
    val nVideos = m.filter(org.apache.spark.sql.functions.col("kind") === "video").count()
    val byMedia = frames.groupBy("media_id").count().collect()
    assert(byMedia.length == nVideos)
    assert(byMedia.forall(_.getLong(1) >= 1))
  }
}
