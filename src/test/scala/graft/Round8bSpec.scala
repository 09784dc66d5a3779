package graft

import org.apache.spark.sql.functions._
import graft.multimodal.Multimodal

/** Round-8 continuation pins: the MJPEG frame-decode path must agree
  * with the independent still-image path (same sample bytes through
  * dHash directly), keep inter-frame codecs on the labeled fallback,
  * and quarantine malformed containers.
  */
class Round8bSpec extends SparkSpec {
  import spark.implicits._

  test("extractDecodedFrames: MJPEG frames decode to the still-path dHash, dims, and pts") {
    for ((w, h, n, delta) <- Seq((72, 48, 5, 40L), (90, 64, 3, 33L), (128, 96, 4, 100L))) {
      val jpegs = (0 until n).map(i =>
        Multimodal.gradientJpeg(w, h, invert = i % 2 == 1,
          patch = if (i % 3 == 2) Some((w / 2, h / 2, 6)) else None))
      val mp4 = Multimodal.minimalMp4WithSamples(w, h, n * delta,
        samples = jpegs, sampleDeltaMs = delta, samplesPerChunk = 2)
      val media = Seq((1L, "video", mp4)).toDF("media_id", "kind", "payload")
      val rows = Multimodal.extractDecodedFrames(media)
        .orderBy("frame_idx").collect()
      assert(rows.length == n)
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(1) == i)
        assert(r.getLong(2) == i * delta, "pts from the stts delta run")
        assert((r.getInt(3), r.getInt(4)) == (w, h), "decoded raster dims")
        // independent oracle: the same sample bytes through the
        // still-image path (dHash decodes the JPEG itself)
        assert(r.getLong(5) == Multimodal.dHash(jpegs(i)).get)
        assert(r.getBoolean(6), "JPEG samples are REAL decodes")
      }
    }
  }

  test("extractDecodedFrames: non-JPEG samples keep the labeled fallback; garbage emits nothing") {
    val raw = Seq(Array.fill(32)(1.toByte), Array.fill(40)(2.toByte))
    val media = Seq(
      (1L, "video", Multimodal.minimalMp4WithSamples(64, 32, 80L,
        samples = raw, sampleDeltaMs = 40L)),
      (2L, "video", "junk".getBytes("UTF-8")),
      (3L, "image", Multimodal.gradientJpeg(72, 48))) // wrong kind: filtered
      .toDF("media_id", "kind", "payload")
    val rows = Multimodal.extractDecodedFrames(media)
      .orderBy("media_id", "frame_idx").collect()
    assert(rows.forall(_.getLong(0) == 1L), "only the parseable video emits")
    assert(rows.length == 2)
    rows.foreach { r =>
      assert(!r.getBoolean(6) && r.getInt(3) == 0 && r.getInt(4) == 0)
    }
    // the stub hash is the labeled payload fold of the SLICE, so the two
    // distinct raw samples must not collide
    assert(rows.map(_.getLong(5)).distinct.length == 2)
  }

  test("CountMinSketch: bit-identical under any partitioning; estimates never undercount") {
    import graft.expressions.CountMinSketch
    val items = (0 until 3000).map(i => s"tok${i % 217}") ++
      Seq.fill(400)("heavy") ++ (0 until 100).map(i => s"rare$i")
    val (d, w) = (4, 64)
    val sketches = Seq(1, 3, 16).map { nPart =>
      items.toDF("tk").repartition(nPart)
        .agg(CountMinSketch.sketch(col("tk"), d, w))
        .collect()(0).getSeq[Long](0)
    }
    assert(sketches.distinct.length == 1,
      "CMS cells are plain sums - partitioning cannot perturb them")
    val cells = sketches.head
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong)
    truth.foreach { case (tk, n) =>
      val h = CountMinSketch.portableHash(tk)
      val est = (0 until d).map(i => cells(i * w + CountMinSketch.bucket(h, i, w))).min
      assert(est >= n, s"$tk: est $est < truth $n breaks the one-sided guarantee")
    }
    // every row's cells sum to the total item count (mass conservation)
    (0 until d).foreach { i =>
      assert(cells.slice(i * w, (i + 1) * w).sum == items.length.toLong)
    }
  }

  test("MIPS: aug-cosine ranking == dot ranking") {
    import graft.operators.Similarity
    val rnd = prng(4242L)
    // vectors with DELIBERATELY varying norms so cosine order != dot order
    val vecs = (0L until 60L).map { id =>
      val scale = 0.5f + (math.floorMod(rnd.next(), 8L)) * 0.75f
      (id, Array.tabulate(64)(j =>
        (math.floorMod(rnd.next(), 2001L) - 1000L) / 1000.0f * scale))
    }
    val df = vecs.toDF("id", "vec")
    // monotonicity: the two ranked paths agree pairwise
    val queries = df.filter(col("id") < 5)
    val a = Similarity.mipsTopK(queries, df, k = 7)
      .select("query_id", "rnk", "cand_id").collect().toSet
    val b = Similarity.mipsAugCosineTopK(queries, df, k = 7)
      .select("query_id", "rnk", "cand_id").collect().toSet
    assert(a == b, "aug-cosine ranking must equal raw-dot ranking")
    // and MIPS genuinely differs from cosine here (norms carry signal)
    val c = Similarity.bruteForceTopK(queries, df, k = 7)
      .select("query_id", "rnk", "cand_id").collect().toSet
    assert(a != c, "fixture must separate dot order from cosine order")
  }

  private def prng(seed: Long): Iterator[Long] = Iterator.iterate(seed) { x0 =>
    var x = x0; x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x
  }.drop(1)

  test("kCoreFixed == plain-Scala peel on random graphs") {
    import graft.operators.Components
    for ((seed, k) <- Seq((11L, 2), (77L, 3), (5001L, 2))) {
      val rnd = prng(seed)
      val n = 50
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if math.floorMod(rnd.next(), 100) < 8
      } yield (a, b)).toSeq
      val df = edges.toDF("id1", "id2")
      // independent oracle: simultaneous-removal peel in plain Scala
      var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      var stable = false
      while (!stable) {
        val bad = adj.collect { case (id, nb) if nb.size < k => id }.toSet
        if (bad.isEmpty) stable = true
        else adj = adj.collect { case (id, nb) if !bad(id) => id -> (nb -- bad) }
      }
      val expected = adj.map { case (id, nb) => id -> nb.size.toLong }
      val fixed = Components.kCoreFixed(df, "id1", "id2", k, rounds = 16)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fixed == expected, s"seed=$seed k=$k fixed-round peel diverged")
    }
  }

  test("BitmapDistinct: exact under any partitioning; domain violations raise") {
    import graft.expressions.BitmapDistinct
    val vals = (0 until 5000).map(i => (i * i + 7) % 997L) // dense collisions
    val truth = vals.distinct.size.toLong
    Seq(1, 4, 16).foreach { nPart =>
      val got = vals.toDF("v").repartition(nPart)
        .agg(BitmapDistinct.countDistinct(col("v"), 1024))
        .collect()(0).getLong(0)
      assert(got == truth, s"nPart=$nPart: $got != $truth")
    }
    // out-of-domain value must raise, not silently drop
    val err = intercept[Exception] {
      Seq(5000L).toDF("v").agg(BitmapDistinct.countDistinct(col("v"), 1024)).collect()
    }
    assert(err.getMessage != null)
  }

  test("audioSamples: pcmWav round-trips bit-exactly; non-PCM16 quarantines") {
    for (seed <- Seq(3L, 456L)) {
      val rnd = prng(seed)
      val wave = Array.fill(500)((math.floorMod(rnd.next(), 65536L) - 32768L).toInt)
      val decoded = Multimodal.audioSamples(
        Multimodal.pcmWav(500, 8000f, wave(_))).get
      assert(decoded.toSeq == wave.toSeq, "decoded PCM must be bit-exact")
    }
    assert(Multimodal.audioSamples("garbage".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.audioSamples(null).isEmpty)
  }

  test("minLabelIncremental == full rebuild on random graphs and random splits") {
    import graft.operators.Components
    for (seed <- Seq(21L, 909L, 31337L)) {
      val rnd = prng(seed)
      val n = 60
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if math.floorMod(rnd.next(), 100) < 5
      } yield (a, b)).toSeq
      val nodes = (0L until n).toDF("id")
      val (histE, batchE) = edges.partition { case (a, b) =>
        math.floorMod(rnd.next(), 2L) == 0 // random split incl. cross-comp merges
      }
      val mapping = Components.minLabel(histE.toDF("a", "b"), "a", "b", nodes, "id")
      val inc = Components.minLabelIncremental(mapping,
        batchE.toDF("a", "b"), "a", "b", nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = Components.minLabel(edges.toDF("a", "b"), "a", "b", nodes, "id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(inc == full, s"seed=$seed incremental diverged from rebuild")
    }
  }

  test("extendIds: standing ids immutable, new ids dense above the watermark, re-ingest is a no-op") {
    import graft.operators.Ids
    val day1 = (0L until 40L).map(i => i * 3).toDF("k") // sparse keys
    val existing = Ids.denseIds(day1, "k", 4).select("k", "gid")
    val before = existing.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch: half overlap, half new (interleaved keys)
    val batch = ((0L until 40L).map(_ * 3) ++ (0L until 25L).map(_ * 3 + 1)).toDF("k")
    val after = Ids.extendIds(existing, batch, "k", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    before.foreach { case (k, gid) =>
      assert(after(k) == gid, s"standing id of $k changed") }
    val newIds = after.filterNot { case (k, _) => before.contains(k) }.values.toSeq.sorted
    assert(newIds == (41L to 65L), s"new ids not dense above watermark: $newIds")
    // idempotence: extending again with the same batch changes nothing
    val again = Ids.extendIds(
      after.toSeq.toDF("k", "gid"), batch, "k", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == after, "re-ingest must be a no-op")
  }

  test("everyK sampling decodes only every k-th frame") {
    val jpegs = (0 until 6).map(i => Multimodal.gradientJpeg(72, 48, invert = i % 2 == 1))
    val mp4 = Multimodal.minimalMp4WithSamples(72, 48, 240L,
      samples = jpegs, sampleDeltaMs = 40L)
    val media = Seq((9L, "video", mp4)).toDF("media_id", "kind", "payload")
    val idx = Multimodal.extractDecodedFrames(media, everyK = 3)
      .orderBy("frame_idx").collect().map(_.getInt(1)).toSeq
    assert(idx == Seq(0, 3))
  }
}
