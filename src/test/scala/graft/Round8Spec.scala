package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, EntityRes}

/** Round-8 pins: degree-oriented triangle counting and the ED-Join
  * prefix gate on entity resolution are PHYSICAL changes — both must be
  * row-identical to their naive formulations (computed here in plain
  * Scala as an independent oracle).
  */
class Round8Spec extends SparkSpec {
  import spark.implicits._

  // deterministic pseudo-random stream (no java.util.Random seeding
  // ambiguity across JVMs): xorshift64*
  private def prng(seed: Long): Iterator[Long] = Iterator.iterate(seed) { x0 =>
    var x = x0; x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x
  }.drop(1)

  test("triangleStats: degree-oriented output == naive per-node triangle count (random graphs)") {
    for (seed <- Seq(7L, 99L, 12345L)) {
      val n = 40
      val rnd = prng(seed)
      // ~15% edge density + one deliberate hub (node 0 joined to all)
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n
        if a == 0 || math.floorMod(rnd.next(), 100) < 15
      } yield (a, b)).toSeq
      val out = Components.triangleStats(edges.toDF("id1", "id2"), "id1", "id2")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

      val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        .withDefaultValue(Set.empty[Long])
      val undirected = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val triPerNode = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for ((a, b) <- edges; c <- adj(b) if adj(a).contains(c)) {
        triPerNode(a) += 1; triPerNode(b) += 1; triPerNode(c) += 1
      }
      val expected = undirected.map { case (id, nbrs) =>
        id -> (nbrs.size.toLong, triPerNode(id))
      }
      assert(out == expected, s"seed=$seed")
    }
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (j == 0) i else if (i == 0) j else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def naivePairs(recs: Seq[(Long, String, Int, Double)],
                         denom: Double, scale: Double, w: Double,
                         tau: Double): Set[(Long, Long, Double)] =
    (for {
      (i1, n1, b1, v1) <- recs; (i2, n2, b2, v2) <- recs
      if b1 == b2 && i1 < i2
      s = BigDecimal(w * (1.0 - levenshtein(n1, n2) / denom) +
        (1 - w) * (1.0 - math.min(math.abs(v1 - v2) / scale, 1.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      if s >= tau
    } yield (i1, i2, s)).toSet

  test("entityRes candidatePairs: prefix-gated output == all-pairs block join (incl. short names)") {
    val rnd = prng(4242L)
    val names = Seq.tabulate(120) { i =>
      val base = f"Customer#${math.floorMod(rnd.next(), 40)}%09d"
      math.floorMod(rnd.next(), 4) match {
        case 0 => base
        case 1 => // 1-char substitution
          val p = math.floorMod(rnd.next(), base.length).toInt
          base.updated(p, ('0' + math.floorMod(rnd.next(), 10).toInt).toChar)
        case 2 => // indel shift: drop a char, append one
          base.drop(1) + ('0' + math.floorMod(rnd.next(), 10).toInt).toChar
        case _ => if (i % 7 == 0) "ab" else base.take(5) // short-name tier
      }
    }
    val recs = names.zipWithIndex.map { case (nm, i) =>
      (i.toLong, nm, math.floorMod(rnd.next(), 3).toInt,
        math.floorMod(rnd.next(), 2000).toDouble / 2.0)
    }
    val df = recs.toDF("id", "name", "block", "bal")
    for (tau <- Seq(0.8, 0.6, 0.1)) { // 0.1 -> huge k -> fallback path
      val got = EntityRes.candidatePairs(df, "id", Seq("block"), "name", "bal",
          nameDenom = 9.0, numScale = 1000.0, nameWeight = 0.7, threshold = tau)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = naivePairs(recs, 9.0, 1000.0, 0.7, tau)
      assert(got == want, s"tau=$tau: missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    }
  }

  private def bmp(f: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      64, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 64; x <- 0 until 64) {
      val g = f(x, y) & 0xff
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", baos)
    baos.toByteArray
  }

  test("dHash survives a resize re-encode within a small hamming distance") {
    import graft.multimodal.Multimodal
    val base = bmp((x, y) => (x * 3 + y * 2) % 256)
    // decode, scale to 32x32, re-encode as PNG
    val resized = {
      val img = new java.awt.image.BufferedImage(
        32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      try g.drawImage(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(base)), 0, 0, 32, 32, null)
      finally g.dispose()
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val (h1, h2) = (Multimodal.dHash(base).get, Multimodal.dHash(resized).get)
    val ham = java.lang.Long.bitCount(h1 ^ h2)
    assert(ham <= 12, s"resize moved the hash $ham bits")
  }

  test("nearestWithin: closer side wins, ties go backward, tolerance nulls out") {
    import graft.operators.AsOfJoin
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    val left = Seq((1L, ts(1000), "a"), (1L, ts(5000), "b"), (1L, ts(9000), "c"),
        (2L, ts(1000), "d"))
      .toDF("k", "ts", "tag")
    val right = Seq((1L, ts(900), 90L), (1L, ts(5200), 52L), (1L, ts(4800), 48L),
        (2L, ts(50000), 99L))
      .toDF("k", "ts", "v")
    val out = AsOfJoin.nearestWithin(left, right, "k", "ts", Seq("v"),
        maxGapMs = 2000L)
      .collect().map(r => r.getString(2) -> (if (r.isNullAt(3)) -1L else r.getLong(3))).toMap
    // a@1000: back 900 (gap 100) vs fwd 4800 (gap 3800, out) -> 90
    // b@5000: back 4800 (gap 200) vs fwd 5200 (gap 200) -> TIE -> backward 48
    // c@9000: back 5200 (gap 3800, out of tolerance) -> null
    // d@1000 (key 2): fwd 50000 out of tolerance -> null
    assert(out == Map("a" -> 90L, "b" -> 48L, "c" -> -1L, "d" -> -1L))
  }

  test("snapshotDiff: added/removed/changed/unchanged incl. null transitions") {
    import graft.operators.TableDiff
    val before = Seq((1L, Some("a"), 10), (2L, Some("b"), 20),
        (3L, Some("c"), 30), (4L, None: Option[String], 40))
      .toDF("k", "s", "v")
    val after = Seq((1L, Some("a"), 10), (2L, Some("B"), 20),
        (4L, Some("d"), 40), (5L, Some("e"), 50))
      .toDF("k", "s", "v")
    val d = TableDiff.snapshotDiff(before, after, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getSeq[String](2).toSet)).toMap
    assert(d(1L) == ("unchanged", Set.empty[String]))
    assert(d(2L) == ("changed", Set("s")))
    assert(d(3L) == ("removed", Set.empty[String]))
    assert(d(4L) == ("changed", Set("s"))) // null -> value IS a change
    assert(d(5L) == ("added", Set.empty[String]))
  }

  test("snapshotDiff laws: diff(a,a) is all-unchanged; swap flips added/removed") {
    import graft.operators.TableDiff
    val rnd = prng(777L)
    val mk = (n: Int, seed: Int) => (0 until n).map { i =>
      (i.toLong + seed % 3, s"v${math.floorMod(rnd.next(), 5)}",
        math.floorMod(rnd.next(), 100).toInt)
    }.toDF("k", "s", "v")
    val a = mk(30, 0)
    assert(TableDiff.snapshotDiff(a, a, Seq("k"))
      .filter(col("status") =!= "unchanged").count() == 0)
    val b = mk(30, 1)
    val ab = TableDiff.snapshotDiff(a, b, Seq("k"))
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ba = TableDiff.snapshotDiff(b, a, Seq("k"))
      .groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ab.getOrElse("added", 0L) == ba.getOrElse("removed", 0L))
    assert(ab.getOrElse("removed", 0L) == ba.getOrElse("added", 0L))
    assert(ab.getOrElse("changed", 0L) == ba.getOrElse("changed", 0L))
    assert(ab.getOrElse("unchanged", 0L) == ba.getOrElse("unchanged", 0L))
  }

  test("dsirWeights: target-domain docs average a higher weight than the rest") {
    // the operator's whole point: resampling by these weights shifts the
    // corpus toward the target distribution
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val w = graft.operators.TextAnalysis.dsirWeights(docs, "doc_id", "text",
      col("source") === "src1")
    val bySrc = w.join(docs.select("doc_id", "source"), "doc_id")
      .withColumn("t", (col("source") === "src1").cast("int"))
      .groupBy("t").agg(avg("dsir_logw").as("m"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(bySrc(1) > bySrc(0),
      s"target mean ${bySrc(1)} should exceed non-target ${bySrc(0)}")
  }

  test("minLabelAdaptive == plain-Scala labels, both sides of the bound") {
    import graft.operators.Components
    for (seed <- Seq(11L, 222L)) {
      val rnd = prng(seed)
      val pairs = (0 until 60).map(_ =>
        (math.floorMod(rnd.next(), 40L), math.floorMod(rnd.next(), 40L)))
        .filter(p => p._1 != p._2)
      val nodes = (0L until 40L).toDF("id")
      // reference: min-label propagation to its fixpoint, in plain Scala
      var want = (0L until 40L).map(i => i -> i).toMap
      var changed = true
      while (changed) {
        val next = pairs.foldLeft(want) { case (m, (a, b)) =>
          val l = math.min(m(a), m(b)); m.updated(a, l).updated(b, l)
        }
        changed = next != want
        want = next
      }
      val viaUf = Components.minLabelAdaptive(pairs.toDF("a", "b"), "a", "b",
        nodes, "id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaUf == want, s"seed=$seed adaptive != reference")
    }
    // past the bound: SmallBatchKeys + 1 edges forming 4-node chains
    // 4i+1 - 4i - 4i+3 - 4i+2 (ids out of chain order), every component
    // labelled by its minimum 4i
    val chains = (operators.Ids.SmallBatchKeys + 1) / 3
    val big = spark.range(0, chains).select(
      explode(array(
        struct((col("id") * 4 + 1).as("a"), (col("id") * 4).as("b")),
        struct((col("id") * 4).as("a"), (col("id") * 4 + 3).as("b")),
        struct((col("id") * 4 + 3).as("a"), (col("id") * 4 + 2).as("b")))).as("e"))
      .select("e.a", "e.b")
    assert(big.count() == operators.Ids.SmallBatchKeys + 1)
    val bigNodes = spark.range(0, chains * 4).toDF("id")
    val wrong = Components.minLabelAdaptive(big, "a", "b", bigNodes, "id")
      .filter(col("comp") =!= col("id") - pmod(col("id"), lit(4L)))
      .count()
    assert(wrong == 0, s"$wrong nodes past the bound carry a wrong label")
  }

  test("hierarchy rootAndDepth: 1000-deep chain and a branched forest, exact depths") {
    import graft.operators.Hierarchy
    // chain 0 <- 1 <- 2 <- ... <- 1000 (depth 1000 needs ~10 doubling
    // rounds; a per-level loop would need 1000)
    val chain = (1L to 1000L).map(i => (i, i - 1)).toDF("id", "parent")
    val out = Hierarchy.rootAndDepth(chain, "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1000L) == (0L, 1000L))
    assert(out(1L) == (0L, 1L))
    assert(out(0L) == (0L, 0L)) // root maps to itself at depth 0
    // forest: two roots, binary fan
    val forest = Seq((10L, 1L), (11L, 1L), (20L, 2L), (21L, 20L))
      .toDF("id", "parent")
    val f = Hierarchy.rootAndDepth(forest, "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(f(10L) == (1L, 1L) && f(11L) == (1L, 1L))
    assert(f(20L) == (2L, 1L) && f(21L) == (2L, 2L))
    assert(f(1L) == (1L, 0L) && f(2L) == (2L, 0L))
  }

  test("hierarchy extend == full recompute: attach chains, old rows verbatim, new roots") {
    import graft.operators.Hierarchy
    // full forest: 0 <- 1..1000 chain plus a bushy pair; day 1 = ids < 600
    val all = (1L to 1000L).map(i => (i, i - 1)).toDF("id", "parent")
    val full = Hierarchy.rootAndDepth(all, "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val day1 = Hierarchy.rootAndDepth(
      all.filter(col("id") < 600), "id", "parent")
    // batch: 401-deep new-on-new chain hanging off attach point 599
    val inc = Hierarchy.extend(day1, all.filter(col("id") >= 600),
        "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(inc == full)
    // a batch referencing a brand-new root gets (root, root, 0) plus its tree
    val nr = Hierarchy.extend(day1,
        Seq((5000L, 4000L), (5001L, 5000L)).toDF("id", "parent"),
        "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(nr(4000L) == (4000L, 0L) && nr(5000L) == (4000L, 1L) &&
      nr(5001L) == (4000L, 2L))
    assert(nr(599L) == (0L, 599L)) // old rows pass through untouched
  }

  test("etl_entity_res query output is unchanged by the prefix gate (sf0.001 snapshot invariant)") {
    val out = Queries.etl_entity_res(spark, "/root/testdata/sf0.001")
    // blocking is physical: every member of an entity must share the
    // block with its canonical survivor, and scores are symmetric so
    // entity ids are the min member — structural invariants only (the
    // DuckDB oracle pins exact rows)
    assert(out.filter(col("n_members") < 1).count() == 0)
    assert(out.groupBy("entity_id").agg(min("c_custkey").as("m"))
      .filter(col("m") =!= col("entity_id")).count() == 0)
  }
}
