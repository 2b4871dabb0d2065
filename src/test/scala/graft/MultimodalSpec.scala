package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import thrivespark.Tables
import thrivespark.multimodal.Multimodal

/** Multimodal binary-column plumbing: real P6 PPM payloads, the distributed
  * decode stage (mapPartitions), null passthrough, and the real audio/video
  * (WAV / Y4M) decoders. */
class MultimodalSpec extends AnyFunSuite {
  import SparkTestBase._

  /** Reference recomputation of the decoded features straight from the
    * planted pixel function — independent of the encoder+parser path. */
  private def expected(id: Long): (Int, Int, Int, Long, Long, Long) = {
    val w = Multimodal.ppmWidth(id); val h = Multimodal.ppmHeight(id)
    var r = 0L; var g = 0L; var b = 0L
    for (y <- 0 until h; x <- 0 until w) {
      r += Multimodal.ppmPixel(id, x, y, 0)
      g += Multimodal.ppmPixel(id, x, y, 1)
      b += Multimodal.ppmPixel(id, x, y, 2)
    }
    val px = w.toLong * h
    (w, h, w * h * 3, r * 1000000L / px, g * 1000000L / px, b * 1000000L / px)
  }

  test("extractPpmFeatures decodes real PPM payloads to exact features") {
    val media = Multimodal.mediaPpmFromDocuments(Tables.documents(spark, sf0001))
    val out = Multimodal.extractPpmFeatures(media)
    assert(out.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "n_pixel_bytes",
        "r_mean_micros", "g_mean_micros", "b_mean_micros",
        "thumb", "thumb_checksum"))
    assert(out.count() == 500)
    val byId = out.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    for (id <- Seq(byId.keys.min, byId.keys.max, byId.keys.toSeq.sorted.apply(byId.size / 2))) {
      assert(byId(id) == expected(id), s"features mismatch for media_id=$id")
    }
  }

  test("decodePpm is a real parser: header grammar, malformed input throws") {
    val f = Multimodal.decodePpm(Multimodal.ppmBytes(42L))
    assert((f.width, f.height, f.nPixelBytes) ==
      (Multimodal.ppmWidth(42L), Multimodal.ppmHeight(42L),
        Multimodal.ppmWidth(42L) * Multimodal.ppmHeight(42L) * 3))
    // comments in the header are legal PPM
    val withComment = ("P6\n# a comment\n2 2\n255\n".getBytes("US-ASCII") ++
      Array.fill[Byte](12)(7))
    assert(Multimodal.decodePpm(withComment).width == 2)
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("not a ppm".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodePpm("P6\n4 4\n255\nxx".getBytes("US-ASCII")) // short raster
    }
  }

  test("decode is deterministic and partition-count independent") {
    val media = Multimodal.mediaPpmFromDocuments(Tables.documents(spark, sf0001))
    def run(np: Int) = Multimodal.extractPpmFeatures(media.repartition(np))
      .collect().map(r => r.getLong(0) -> r.toSeq.tail.map {
        case a: Array[Byte] => a.toSeq   // value equality for the thumb bytes
        case x => x
      }).toMap
    assert(run(1) == run(7))
  }

  test("thumbnail is a real 8x8 box filter over the decoded raster") {
    // Brute-force reference: cell (i,j) collects pixels with x*8/w == i,
    // y*8/h == j; its byte is floor(Σ(r+g+b) / (3·n_box)). Computed here
    // straight from the planted pixel function, independent of the decoder.
    for (id <- Seq(0L, 7L, 42L, 123L)) {
      val w = Multimodal.ppmWidth(id); val h = Multimodal.ppmHeight(id)
      val sums = Array.fill(64)(0L); val ns = Array.fill(64)(0L)
      for (y <- 0 until h; x <- 0 until w) {
        val cell = (y * 8 / h) * 8 + (x * 8 / w)
        sums(cell) += Multimodal.ppmPixel(id, x, y, 0) +
          Multimodal.ppmPixel(id, x, y, 1) + Multimodal.ppmPixel(id, x, y, 2)
        ns(cell) += 1
      }
      val want = (0 until 64).map(c => (sums(c) / (3L * ns(c))).toByte)
      val f = Multimodal.decodePpm(Multimodal.ppmBytes(id))
      assert(f.thumb.toSeq == want, s"thumb mismatch for id=$id")
      assert(f.thumbChecksum == want.map(_.toLong & 0xff).sum,
        s"checksum mismatch for id=$id")
      assert(f.thumb.length == 64)
    }
  }

  test("extractWavFeatures decodes real RIFF/WAVE payloads to exact features") {
    val media = Multimodal.mediaWavFromDocuments(Tables.documents(spark, sf0001))
    val out = Multimodal.extractWavFeatures(media)
    assert(out.schema.fieldNames.toSeq ==
      Seq("media_id", "sample_rate", "n_samples", "duration_ms",
        "mean_micros", "peak"))
    assert(out.count() == 500)
    val byId = out.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getInt(5)))).toMap
    for (id <- Seq(byId.keys.min, byId.keys.max, byId.keys.toSeq.sorted.apply(byId.size / 2))) {
      // reference recomputation straight from the planted sample function
      val n = Multimodal.wavNumSamples(id)
      val samples = (0 until n).map(Multimodal.wavSample(id, _))
      val want = (Multimodal.WavSampleRate, n,
        n.toLong * 1000 / Multimodal.WavSampleRate,
        samples.map(_.toLong).sum * 1000000L / n, samples.max)
      assert(byId(id) == want, s"audio features mismatch for media_id=$id")
    }
  }

  test("decodeWav is a real parser: chunk walking, malformed input throws") {
    val good = Multimodal.wavBytes(42L)
    val f = Multimodal.decodeWav(good)
    assert(f.sampleRate == 8000 && f.nSamples == Multimodal.wavNumSamples(42L))
    // an unknown chunk between fmt and data is legal RIFF — splice one in
    val lePad = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(0).array()
    val spliced = good.take(36) ++ lePad ++ good.drop(36)
    // fix the RIFF size field (bytes 4..7) for the extra 8 bytes
    java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, good.length - 8 + 8)
    assert(Multimodal.decodeWav(spliced) == f, "unknown chunk must be skipped")
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav("not a wav at all".getBytes("US-ASCII"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeWav(good.take(50)) // data chunk overruns payload
    }
    assert(Multimodal.decodeWav(null) == null)
  }

  test("null payloads pass through with null features") {
    val media = Multimodal.mediaPpmFromDocuments(Tables.documents(spark, sf0001))
      .withColumn("payload", when(col("media_id") % 2 === 0, col("payload")))
    val out = Multimodal.extractPpmFeatures(media)
    val nulls = out.filter(col("width").isNull)
    assert(nulls.count() > 0)
    assert(nulls.filter(col("r_mean_micros").isNotNull).count() == 0)
  }

  /** Reference recomputation of the sampled video features straight from the
    * planted luma function — independent of the encoder+parser path. */
  private def expectedY4m(id: Long, everyNth: Int): Multimodal.Y4mFeatures = {
    val w = Multimodal.y4mWidth(id); val h = Multimodal.y4mHeight(id)
    val n = Multimodal.y4mFrames(id)
    var sum = 0L; var peak = 0; var nSampled = 0
    for (f <- 0 until n if f % everyNth == 0) {
      nSampled += 1
      for (y <- 0 until h; x <- 0 until w) {
        val v = Multimodal.y4mLuma(id, f, x, y)
        sum += v
        if (v > peak) peak = v
      }
    }
    Multimodal.Y4mFeatures(w, h, n, Multimodal.Y4mFps, n.toLong * 100,
      nSampled, sum, sum * 1000000L / (nSampled.toLong * w * h), peak)
  }

  test("extractY4mFeatures decodes + frame-samples real Y4M payloads exactly") {
    val media = Multimodal.mediaY4mFromDocuments(Tables.documents(spark, sf0001))
    val out = Multimodal.extractY4mFeatures(media, everyNth = 3)
    assert(out.schema.fieldNames.toSeq ==
      Seq("media_id", "width", "height", "n_frames", "fps", "duration_ms",
        "n_sampled", "luma_sum", "mean_micros", "peak"))
    assert(out.count() == 500)
    val byId = out.collect().map { r =>
      r.getLong(0) -> Multimodal.Y4mFeatures(r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4), r.getLong(5), r.getInt(6), r.getLong(7),
        r.getLong(8), r.getInt(9))
    }.toMap
    for (id <- Seq(byId.keys.min, byId.keys.max, byId.keys.toSeq.sorted.apply(byId.size / 2))) {
      assert(byId(id) == expectedY4m(id, 3), s"video features mismatch for media_id=$id")
    }
  }

  test("decodeY4m is a real parser: tag grammar, C420, malformed input throws") {
    // everyNth = 1 samples every frame — total luma over all frames
    val all = Multimodal.decodeY4m(Multimodal.y4mBytes(7L), 1)
    assert(all.nSampled == all.nFrames && all.nFrames == Multimodal.y4mFrames(7L))
    // sampling strictly reduces the aggregated bytes but not the frame count
    val sampled = Multimodal.decodeY4m(Multimodal.y4mBytes(7L), 3)
    assert(sampled.nFrames == all.nFrames && sampled.nSampled < all.nSampled)
    assert(sampled.lumaSum < all.lumaSum)
    // unknown header tags (X extension) are skipped per the Y4M grammar;
    // C420 frames carry chroma planes after the luma (size w*h*3/2)
    val c420 = ("YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C420jpeg XCOLORRANGE=FULL\n" +
      "FRAME\n").getBytes("US-ASCII") ++ Array.tabulate[Byte](12)(i => (i + 1).toByte)
    val f = Multimodal.decodeY4m(c420, 1)
    assert((f.width, f.height, f.nFrames, f.fpsNum) == (4, 2, 1, 25))
    assert(f.lumaSum == (1 to 8).sum && f.peak == 8)   // luma plane only
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4m("MPEG4 W4 H2\nFRAME\n".getBytes("US-ASCII"), 1)
    }
    intercept[IllegalArgumentException] {   // short frame: header promises 8 luma bytes
      Multimodal.decodeY4m("YUV4MPEG2 W4 H2 F25:1 Cmono\nFRAME\nxx".getBytes("US-ASCII"), 1)
    }
    intercept[IllegalArgumentException] {   // unsupported colorspace must throw
      Multimodal.decodeY4m("YUV4MPEG2 W4 H2 F25:1 C444\nFRAME\n".getBytes("US-ASCII"), 1)
    }
    assert(Multimodal.decodeY4m(null, 3) == null)
  }

  test("trimodal manifest: one fused pass agrees with the per-modality decoders") {
    val media = Multimodal.mediaTrimodalFromDocuments(Tables.documents(spark, sf0001))
    val out = Multimodal.extractTrimodalManifest(media, everyNth = 3)
    assert(out.count() == 500)
    val rows = out.collect().map(r => r.getLong(0) -> r).toMap
    for (id <- Seq(rows.keys.min, rows.keys.max)) {
      val img = Multimodal.decodePpm(Multimodal.ppmBytes(id))
      val aud = Multimodal.decodeWav(Multimodal.wavBytes(id))
      val vid = Multimodal.decodeY4m(Multimodal.y4mBytes(id), 3)
      val r = rows(id)
      assert((r.getInt(3), r.getInt(4), r.getLong(5), r.getLong(6)) ==
        (img.width, img.height, img.rMeanMicros, img.thumbChecksum))
      assert((r.getInt(7), r.getLong(8), r.getInt(9)) ==
        (aud.nSamples, aud.meanMicros, aud.peak))
      assert((r.getInt(10), r.getInt(11), r.getLong(12), r.getInt(13)) ==
        (vid.nFrames, vid.nSampled, vid.meanMicros, vid.peak))
    }
  }

  test("quarantine decode: corrupt rows get stable codes, stage survives") {
    val media = Multimodal.mediaCorruptPpmFromDocuments(Tables.documents(spark, sf0001))
    val out = Multimodal.extractPpmFeaturesQuarantine(media).collect()
    assert(out.length == 500)
    out.foreach { r =>
      val id = r.getLong(0)
      if (id % 7 == 3) assert((r.getString(1), r.getString(5)) == ("quarantined", "truncated"))
      else if (id % 7 == 5) assert((r.getString(1), r.getString(5)) == ("quarantined", "bad_magic"))
      else {
        assert(r.getString(1) == "ok" && r.isNullAt(5))
        assert(r.getInt(2) == Multimodal.ppmWidth(id))
      }
    }
    // a null payload quarantines too (does not throw, does not pass as ok)
    import spark.implicits._
    val n = Multimodal.extractPpmFeaturesQuarantine(
      Seq((1L, null.asInstanceOf[Array[Byte]])).toDF("media_id", "payload")).head()
    assert((n.getString(1), n.getString(5)) == ("quarantined", "null_payload"))
  }

  test("y4m null payloads pass through with null features") {
    val media = Multimodal.mediaY4mFromDocuments(Tables.documents(spark, sf0001))
      .withColumn("payload", when(col("media_id") % 2 === 0, col("payload")))
    val out = Multimodal.extractY4mFeatures(media, everyNth = 3)
    val nulls = out.filter(col("width").isNull)
    assert(nulls.count() > 0)
    assert(nulls.filter(col("luma_sum").isNotNull).count() == 0)
  }

  test("binaryFile source: 40 files round-trip, source length == bytes on disk") {
    val out = thrivespark.Registry.queries("source_binary_files")(spark, sf0001)
      .collect()
    assert(out.length == 40, "one row per fixture file")
    out.foreach { r =>
      val id = r.getAs[Long]("media_id")
      assert(r.getAs[Long]("length") == Multimodal.ppmBytes(id).length,
        s"source length must equal the real file size for id $id")
      assert(r.getAs[Int]("width") == Multimodal.ppmWidth(id))
      assert(r.getAs[Int]("height") == Multimodal.ppmHeight(id))
    }
    // idempotent: a second run (fixture rewrite + re-list) is identical
    val again = thrivespark.Registry.queries("source_binary_files")(spark, sf0001)
      .collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(thrivespark.Scratch.sink("binsrc", sf0001)))
  }
}
