package graft

import org.apache.spark.sql.functions._
import graft.operators._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("E1 exact dedup keeps deterministic min-order survivor") {
    val df = Seq((3L, "x", "c"), (1L, "x", "a"), (2L, "x", "b"), (9L, "y", "z"))
      .toDF("id", "key", "attr")
    val got = Dedup.exact(df, Seq("key"), Seq(col("id")))
      .orderBy("key").as[(Long, String, String)].collect()
    assert(got.toSeq == Seq((1L, "x", "a"), (9L, "y", "z")))
  }

  test("exactByFingerprint picks the same survivors as exact") {
    val rnd = new scala.util.Random(3)
    val texts = Seq("aa bb", "cc dd", "ee ff")
    val df = (1 to 200).map { i =>
      (i.toLong, texts(rnd.nextInt(3)), rnd.nextInt(4).toLong)
    }.toDF("id", "text", "ord")
    val viaFp = Dedup.exactByFingerprint(df, Seq("text"), Seq(col("ord")), "id")
      .as[(Long, String, Long)].collect().sorted.toSeq
    val viaExact = Dedup.exact(df, Seq("text"), Seq(col("ord"), col("id")))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(viaFp == viaExact)
    assert(viaFp.map(_._2).distinct.length == viaFp.length) // truly deduped
  }

  test("exactByFingerprint never shuffles the payload side when bucketed by id") {
    val df = (1 to 500).map(i => (i.toLong, s"text ${i % 50}")).toDF("id", "text")
    df.write.bucketBy(4, "id").sortBy("id").format("parquet")
      .mode("overwrite").saveAsTable("dedup_bkt")
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val t = spark.table("dedup_bkt")
      val dd = Dedup.exactByFingerprint(t, Seq("text"), Seq(col("id")), "id")
      assert(dd.count() == 50)
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
      val smj = dd.queryExecution.executedPlan
        .collectFirst { case s: SortMergeJoinExec => s }
      assert(smj.nonEmpty, s"expected a sort-merge semi join:\n${dd.queryExecution.executedPlan}")
      val bigSideShuffles = smj.get.left.collect { case e: ShuffleExchangeExec => e }
      assert(bigSideShuffles.isEmpty,
        s"payload side must read in place:\n${smj.get.left}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("shingles: k=3 over tokens; short docs yield empty array") {
    val df = Seq("a b c d", "a b").toDF("text")
    val got = df.select(Dedup.shingles(Dedup.tokens($"text"), 3)).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("minhash LSH finds an exact duplicate pair and a near-dup") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "the quick brown fox jumps over the lazy cat again and again"),
      (4L, "completely different tokens here nothing shared at all with others ever"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs, "doc_id", "text", jaccardThreshold = 0.3)
      .orderBy("id1", "id2").as[(Long, Long, Double)].collect()
    assert(pairs.exists { case (a, b, j) => a == 1L && b == 2L && j == 1.0 })
    assert(pairs.forall { case (a, b, _) => Set(a, b).subsetOf(Set(1L, 2L, 3L)) })
  }

  test("containment pairs == brute-force containment over the shared candidate set") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, s"$base lambda mu nu"), // superset of 1/2: containment 1.0, J=8/11
      (4L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    // 8x2 banding: higher candidate recall than the 4x4 default (per-band
    // match needs only 2 shared minima), same verification math
    val viaCont = Dedup.minhashContainmentPairs(docs, "doc_id", "text",
      bands = 8, rowsPerBand = 2, containmentThreshold = 0.8)
      .as[(Long, Long, Double)].collect().toSet
    // both variants band identically, so threshold=0 jaccard pairs ARE the
    // full verified candidate set
    val cands = Dedup.minhashLsh(docs, "doc_id", "text",
      bands = 8, rowsPerBand = 2, jaccardThreshold = 0.0)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val sh = docs.select($"doc_id",
      Dedup.shingleHashes($"text", 3).as("sh"))
      .as[(Long, Seq[Long])].collect().toMap
    val brute = for {
      (i, si) <- sh.toSeq; (j, sj) <- sh.toSeq if i < j
      c = si.toSet.intersect(sj.toSet).size.toDouble / math.min(si.size, sj.size)
      if c >= 0.8 && cands((i, j))
    } yield (i, j, c)
    assert(viaCont == brute.toSet)
    // the identical pair plus the contained-superset pair must be found,
    // and the superset pair is exactly what Jaccard-at-0.8 misses
    assert(viaCont.contains((1L, 2L, 1.0)) && viaCont.contains((1L, 3L, 1.0)))
    val viaJac08 = Dedup.minhashLsh(docs, "doc_id", "text",
      bands = 8, rowsPerBand = 2, jaccardThreshold = 0.8)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    assert(!viaJac08((1L, 3L)))
  }

  test("curate pipeline: quality gate, exact dups collapse, near-dup cluster keeps min id") {
    val good = "the quick brown fox jumps over the lazy dog again and again ok"
    val docs = Seq(
      (1L, good, "en"),
      (2L, good, "en"),                              // exact dup of 1 -> dropped
      (3L, good.replace("dog", "cat"), "en"),        // near-dup of 1 -> clustered, dropped
      (4L, "completely different words appear here nothing shared at all ever", "en"),
      (5L, "a a a a a a a a a a a a", "en"))         // degenerate: distinct_ratio ~0
      .toDF("doc_id", "text", "lang")
    val got = Pipelines.curate(docs, "doc_id", "text",
      minQuality = 0.3, jaccardThreshold = 0.3, carry = Seq("lang"))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 4L), s"got $got")
  }

  test("composite operators tolerate an empty corpus") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashLsh(empty, "doc_id", "text").count() == 0)
    assert(Dedup.minhashContainmentPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text").count() == 0)
    assert(Dedup.simhashPairsScalable(empty, "doc_id", "text").count() == 0)
    assert(Dedup.ngramJaccardPairs(empty.withColumn("src", lit(0)),
      "doc_id", "text", Seq(col("src")), 0.5, rareFirstMinBlock = 8).count() == 0)
    assert(Pipelines.curate(empty, "doc_id", "text").count() == 0)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val noNodes = Seq.empty[Long].toDF("id")
    assert(Components.largeStarSmallStar(noEdges, "src", "dst", noNodes, "id")
      .count() == 0)
    assert(Components.minLabel(noEdges, "src", "dst", noNodes, "id").count() == 0)
  }

  test("curate is idempotent: a second pass removes nothing") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val once = Pipelines.curate(docs, "doc_id", "text", carry = Seq("lang"))
      .localCheckpoint(true)
    val twice = Pipelines.curate(once, "doc_id", "text", carry = Seq("lang"))
    val a = once.select($"doc_id").as[Long].collect().sorted.toSeq
    val b = twice.select($"doc_id").as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty)
  }

  test("minhashLsh releases its shingle cache (no persist leak)") {
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    Dedup.minhashLsh(docs, "doc_id", "text").count()
    // the only retained block is the checkpointed (small) result, never
    // the per-doc shingle sets
    val leaked = spark.sparkContext.getPersistentRDDs.size - before
    assert(leaked <= 1, s"expected at most the checkpointed result, got +$leaked")
  }

  test("connected components: chain, triangle, singleton") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id")
    val got = Components.minLabel(edges, "src", "dst", nodes, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
  }

  test("large-star/small-star: chain, triangle, singleton — and a 400-node path") {
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (6L, 7L), (5L, 7L))
      .toDF("src", "dst")
    val nodes = (1L to 7L).toDF("id")
    val got = Components.largeStarSmallStar(edges, "src", "dst", nodes, "id")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 5L))
    // a path graph of diameter 400: min-label needs ~400 rounds (its
    // default budget is 50); the alternating algorithm converges in
    // O(log diameter) — well inside maxIter = 40
    val n = 400
    val path = (0 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst")
    val pathNodes = (0L to n.toLong).toDF("id")
    val comps = Components.largeStarSmallStar(path, "src", "dst", pathNodes, "id")
      .as[(Long, Long)].collect()
    assert(comps.length == n + 1 && comps.forall(_._2 == 0L))
  }

  test("simhash: identical docs equal, near docs close in hamming") {
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val m = df.select($"doc_id", Dedup.simhash(Dedup.tokens($"text")).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(m(1L) == m(2L))
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("simhashPairs == brute-force hamming filter (banding is lossless)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base), // identical -> hamming 0
      (3L, base.replace("kappa", "lambda")),
      (4L, "one two three four five six seven eight nine ten"),
      (5L, "totally unrelated words appear in this document only once"),
      (6L, base.replace("theta", "xi").replace("kappa", "omicron")))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, "doc_id", "text",
      bits = 24, bands = 4, maxHamming = 3)
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val sigs = docs.select($"doc_id", Dedup.simhash(Dedup.tokens($"text"), 24).as("h"))
      .as[(Long, Long)].collect()
    val naive = (for {
      (i1, h1) <- sigs; (i2, h2) <- sigs if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
    } yield (i1, i2, d)).sorted.toSeq
    assert(got == naive)
    assert(naive.exists { case (a, b, d) => a == 1L && b == 2L && d == 0 })
  }

  test("simhashSignatures (codegen aggregates) == simhashFromHashes (interpreted)") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight"),
      (5L, "")) // empty text -> single "" token in both paths
      .toDF("doc_id", "text")
    val viaAgg = Dedup.simhashSignatures(df, "doc_id", "text", bits = 24)
      .select($"id", $"sig").as[(Long, Long)].collect().toMap
    val viaHof = df.select($"doc_id",
      Dedup.simhash(Dedup.tokens($"text"), 24).as("h"))
      .as[(Long, Long)].collect().toMap
    assert(viaAgg == viaHof)
  }

  test("simhashPairs with blockCols only pairs within a block") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base, "en"), (2L, base, "en"), // same text, same block
      (3L, base, "de"))                   // same text, other block
      .toDF("doc_id", "text", "lang")
    val got = Dedup.simhashPairs(docs, "doc_id", "text",
      bits = 24, bands = 4, maxHamming = 3, blockCols = Seq(col("lang")))
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 2L, 0)))
  }

  test("scalable (64-bit) simhash pairs find identical docs; candidates stay bounded") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base), (2L, base),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, "totally unrelated words appear in this document only once"))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairsScalable(docs, "doc_id", "text")
      .as[(Long, Long, Int)].collect().toSet
    // identical text -> identical 64-bit signature -> hamming 0, always found
    assert(got.contains((1L, 2L, 0)))
    // all survivors verified by exact popcount <= 3
    assert(got.forall(_._3 <= 3))
  }

  test("16-bit simhash bands collapse the candidate space vs 6-bit (sf0.01 docs)") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // maxHamming = bits: every banded candidate passes the verify, so
    // the pair count is the candidate count
    val cand24 = Dedup.simhashPairsFromSigs(
      Dedup.simhashSignatures(docs, "doc_id", "text", bits = 24),
      bands = 4, maxHamming = 24, Dedup.portableBandValue(24, 4)).count()
    val cand64 = Dedup.simhashPairsFromSigs(
      Dedup.simhashSignatures64(docs, "doc_id", "text"),
      bands = 4, maxHamming = 64, Dedup.band64Value(4)).count()
    // round-3 measured the 6-bit parameterization at ~58% of ALL pairs.
    // The floor on 16-bit candidates is the corpus's REAL near-dup pair
    // count (identical/near-identical docs share whole signatures), so the
    // reduction is density-bounded at this sf — assert an order of
    // magnitude plus a small absolute share of the pair space.
    val allPairs = 500L * 499 / 2
    assert(cand64 * 10 <= cand24,
      s"expected >=10x reduction: 6-bit=$cand24, 16-bit=$cand64")
    assert(cand64 * 20 <= allPairs,
      s"16-bit candidates should be <5% of all pairs: $cand64 / $allPairs")
    assert(cand24 * 3 >= allPairs, // documents the quadratic failure mode
      s"6-bit candidates are expected to approach all-pairs: $cand24")
  }

  test("rare-first prefix ordering prunes candidates; identical pair output") {
    // every doc shares the lexicographically-FIRST token "aa" (document
    // frequency = all docs) plus 5 unique tokens: the lexicographic prefix
    // pairs the whole block through "aa", the rare-first prefix pairs
    // nothing.
    val docs = (1 to 30).map(i => (i.toLong, s"aa t$i u$i v$i w$i x$i"))
      .toDF("doc_id", "text").withColumn("src", lit(0))
    def candidates(rareFirst: Boolean): Long =
      Dedup.prefixCandidates(
        Dedup.orderedTokenSets(docs, "doc_id", "text", Seq(col("src")), rareFirst),
        threshold = 0.4).count()
    val lex = candidates(rareFirst = false)
    val rare = candidates(rareFirst = true)
    assert(lex == 30L * 29 / 2, s"lexicographic should pair the block: $lex")
    assert(rare == 0, s"rare-first should prune everything here: $rare")
    // and on a corpus WITH qualifying pairs, both orders return the same set
    val withDups = docs.union(Seq((31L, "aa t1 u1 v1 w1 x1")).toDF("doc_id", "text")
      .withColumn("src", lit(0)))
    def pairs(rareFirst: Boolean) =
      Dedup.ngramJaccardPairs(withDups, "doc_id", "text", Seq(col("src")), 0.4,
        rareFirst).as[(Long, Long, Double)].collect().toSet
    val p = pairs(rareFirst = true)
    assert(p == pairs(rareFirst = false) && p.contains((1L, 31L, 1.0)))
    // the block-size gate changes the chosen order, never the output:
    // hot block (31 docs >= 10) -> rare-first; cold gate (>= 1000) ->
    // lexicographic; both must equal the ungated result
    Seq(10, 1000).foreach { gate =>
      val gated = Dedup.ngramJaccardPairs(withDups, "doc_id", "text",
        Seq(col("src")), 0.4, rareFirst = true, rareFirstMinBlock = gate)
        .as[(Long, Long, Double)].collect().toSet
      assert(gated == p, s"gate=$gate")
    }
  }

  test("ngram Jaccard prefix filtering is lossless vs the naive block join") {
    val rnd = new scala.util.Random(5)
    val vocab = ('a' to 'p').map(_.toString)
    val docs = (1 to 60).map { i =>
      val n = 4 + rnd.nextInt(4)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "), i % 2)
    }.toDF("doc_id", "text", "src")
    val t = 0.4
    val got = Dedup.ngramJaccardPairs(docs, "doc_id", "text", Seq(col("src")), t)
      .select("id1", "id2", "jaccard")
      .as[(Long, Long, Double)].collect().sorted.toSeq
    val base = docs.select(col("doc_id").as("id"),
      array_distinct(split(col("text"), " ")).as("tok"), col("src"))
    val naive = base.as("l")
      .join(base.as("r"), $"l.src" === $"r.src" && $"l.id" < $"r.id")
      .select($"l.id".as("id1"), $"r.id".as("id2"),
        (size(array_intersect($"l.tok", $"r.tok")).cast("double") /
          size(array_union($"l.tok", $"r.tok"))).as("jaccard"))
      .filter($"jaccard" >= t)
      .as[(Long, Long, Double)].collect().sorted.toSeq
    assert(got == naive)
    assert(naive.nonEmpty) // the comparison must actually exercise pairs
  }

  test("native FloatVecDot == higher-order dot, bit for bit; null/mismatch -> null") {
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.75f, -1.0f)),
      (Array(0.1f, 0.2f), Array(0.3f, 0.4f)))
      .toDF("a", "b")
    val got = df.select(Similarity.dot($"a", $"b"), Similarity.dotHof($"a", $"b"))
      .as[(Double, Double)].collect()
    got.foreach { case (native, hof) => assert(native == hof) }
    // length mismatch -> null in both formulations
    val mismatch = Seq((Array(1f, 2f), Array(1f))).toDF("a", "b")
      .select(Similarity.dot($"a", $"b").isNull, Similarity.dotHof($"a", $"b").isNull)
      .as[(Boolean, Boolean)].collect()(0)
    assert(mismatch == ((true, true)))
  }

  test("cosine: orthogonal 0, identical 1, exact double math") {
    val df = Seq(
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f))).toDF("a", "b")
    val got = df.select(Similarity.cosine($"a", $"b")).as[Double].collect()
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - 1.0) < 1e-15)
  }

  test("brute-force topK returns k ranked neighbours, no self-pairs") {
    val vecs = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0f, 1f)), (4L, Array(-1f, 0f)))
      .toDF("id", "vec")
    val got = Similarity.bruteForceTopK(vecs.filter($"id" === 1), vecs, k = 2)
      .as[(Long, Int, Long, Double)].collect()
    assert(got.map(_._3).toSeq == Seq(2L, 3L)) // nearest then orthogonal
    assert(got.forall(_._1 == 1L))
  }

  test("LSH bucket groups sign-identical vectors") {
    val vecs = Seq(
      (1L, Array(1f, 1f, -1f)), (2L, Array(2f, 3f, -5f)), (3L, Array(-1f, 1f, 1f)))
      .toDF("id", "vec")
    val got = vecs.select($"id", Similarity.signBucket($"vec", 3).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
  }

  test("trained IVF centroids reach recall >= 0.7 vs brute force (sf0.01)") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter($"id" < 20)
    val cents = Similarity.trainCentroids(e, k = 4)
    assert(cents.count() == 4)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select($"query_id".cast("long"), $"cand_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    val bf = hits(Similarity.bruteForceTopK(queries, e, k = 5))
    // these embeddings are cluster-free (same-label mean cosine ~0.02),
    // so IVF recall tracks the probed fraction: probe 3 of 4 cells
    val ivf = hits(Similarity.ivfTopK(queries, e, cents, k = 5, nprobe = 3))
    val recall = ivf.intersect(bf).size.toDouble / bf.size
    assert(recall >= 0.7, s"recall $recall (ivf=${ivf.size}, bf=${bf.size})")
    // single-probe scans ~1/4 of the corpus and pays for it in recall —
    // the dial works in both directions
    val ivf1 = hits(Similarity.ivfTopK(queries, e, cents, k = 5, nprobe = 1))
    assert(ivf1.intersect(bf).size < ivf.intersect(bf).size)
    // training is deterministic: a second run reproduces the index exactly
    val again = Similarity.trainCentroids(e, k = 4)
      .orderBy("id").as[(Long, Seq[Float])].collect().toSeq
    val first = cents.orderBy("id").as[(Long, Seq[Float])].collect().toSeq
    assert(again == first)
  }

  test("IVF centroid collect: cap + 1 centroids fail naming the cap and the caller") {
    val vecs = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("id", "vec")
    val tooMany = spark.range(0, Similarity.MaxCentroids + 1L)
      .select($"id", array(lit(1.0f), lit(0.0f)).as("vec"))
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(vecs, vecs, tooMany, k = 1)
    }
    assert(ex.getMessage.contains("ivfTopK") &&
      ex.getMessage.contains(s"MaxCentroids = ${Similarity.MaxCentroids}"), ex.getMessage)
    val empty = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(vecs, vecs, tooMany.limit(0), k = 1)
    }
    assert(empty.getMessage.contains("ivfTopK needs at least one centroid"))
  }

  test("language id picks max-marker language, und when no markers") {
    val df = Seq("the cat of a hat and the", "der hund ist und das", "xyz qqq www")
      .toDF("text")
    val got = df.select(TextAnalysis.langId($"text")).as[String].collect()
    assert(got.toSeq == Seq("en", "de", "und"))
  }

  test("quality metrics: exact ratios on a known doc") {
    val df = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val r = TextAnalysis.qualityMetrics(df, "doc_id", "text").collect()(0)
    assert(r.getAs[Int]("n_tokens") == 3)
    assert(r.getAs[Int]("n_distinct") == 2)
    assert(math.abs(r.getAs[Double]("stopword_ratio") - 2.0 / 3) < 1e-15)
  }

  test("sessionize: 10-minute gap splits sessions") {
    val base = 1700000000000L
    val df = Seq(
      (1L, base, 10L), (2L, base + 5 * 60000, 10L), // same session
      (3L, base + 20 * 60000, 10L), // new session (15 min gap)
      (4L, base + 21 * 60000, 99L)) // other user
      .toDF("event_id", "ms", "user_id")
      .withColumn("ts", timestamp_millis($"ms"))
    val got = Sessionize.sessions(df, "user_id", "ts", "event_id", 10)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events").as[(Long, Long, Long)].collect()
    assert(got.toSeq == Seq((10L, 1L, 2L), (10L, 2L, 1L), (99L, 1L, 1L)))
  }

  test("tumbling windows bucket to epoch-aligned 10 minutes") {
    val df = Seq((1L, 1700000410000L, 5L, 1.5), (2L, 1700000900000L, 5L, 2.5))
      .toDF("event_id", "ms", "user_id", "value")
      .withColumn("ts", timestamp_millis($"ms"))
    val got = Sessionize.tumbling(df, "user_id", "ts", "value", 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(got.length == 1) // both fall in the same 10-min bucket
    assert(got(0)._2 % 600000 == 0)
    assert(got(0)._3 == 2 && got(0)._4 == 4.0)
  }

  test("E10 approx_count_distinct within 5% of exact on testdata") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val (approx, exact) = li.select(
      approx_count_distinct($"l_partkey"), countDistinct($"l_partkey"))
      .as[(Long, Long)].collect()(0)
    assert(math.abs(approx - exact).toDouble / exact < 0.05)
  }

  test("chunking: stride overlap covers every token, trailing chunk shorter") {
    val df = Seq((1L, (1 to 10).map("t" + _).mkString(" "))).toDF("doc_id", "text")
    val got = TextAnalysis.chunk(df, "doc_id", "text", window = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk", "n_chunk_tokens")
      .as[(Int, String, Int)].collect()
    assert(got.length == 4) // starts at tokens 1, 4, 7, 10
    assert(got(0) == ((0, "t1 t2 t3 t4", 4)))
    assert(got(1) == ((1, "t4 t5 t6 t7", 4)))
    assert(got(3) == ((3, "t10", 1)))
  }

  test("redact replaces all matches and counts them") {
    val df = Seq((1L, "the customer saw the user and the customer left")).toDF("doc_id", "text")
    val got = TextAnalysis.redact(df, "doc_id", "text", "\\b(customer|user)\\b", "<ENT>")
      .as[(Long, String, Int)].collect()(0)
    assert(got._2 == "the <ENT> saw the <ENT> and the <ENT> left")
    assert(got._3 == 3)
  }

  test("decontaminate flags only train docs sharing an n-gram with eval") {
    val evalDocs = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val train = Seq(
      (1L, "x a b c d e y"),   // contains eval 5-gram "a b c d e"
      (2L, "p q r s t u v"),   // clean
      (3L, "a b")              // too short for any 5-gram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(train, evalDocs, "doc_id", "text", n = 5)
      .orderBy("id").as[(Long, Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1L, 1), (2L, 0L, 0), (3L, 0L, 0)))
  }

  test("BM25 ranks the term-dense doc first; docs without terms score 0") {
    val df = Seq(
      (1L, "spark spark spark filler filler"),
      (2L, "spark filler filler filler filler"),
      (3L, "filler filler filler filler filler")
    ).toDF("doc_id", "text")
    val m = TextAnalysis.bm25(df, "doc_id", "text", Seq("spark"))
      .as[(Long, Double)].collect().toMap
    assert(m(1L) > m(2L))
    assert(m(3L) == 0.0)
  }

  test("Merge applies upserts, deletes, inserts; untouched keys pass through") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "attr", "v")
    val changes = Seq((2L, "b2", 25.0, "U"), (3L, "c", 30.0, "D"), (4L, "d", 40.0, "U"))
      .toDF("k", "attr", "v", "op")
    val got = operators.Merge.merge(base, changes, Seq("k"))
      .orderBy("k").as[(Long, String, Double)].collect().toSeq
    assert(got == Seq((1L, "a", 10.0), (2L, "b2", 25.0), (4L, "d", 40.0)))
  }

  test("Scd2 collapses unchanged regimes, versions and closes intervals") {
    val ev = Seq(
      (1L, "2020-01-01", 1L, "gold"),
      (1L, "2020-02-01", 2L, "gold"),   // unchanged -> collapses
      (1L, "2020-03-01", 3L, "silver"),
      (1L, "2020-04-01", 4L, "gold"),   // back to gold -> NEW regime
      (2L, "2020-01-15", 5L, "bronze")
    ).toDF("nk", "d", "tb", "tier").withColumn("d", col("d").cast("date"))
    val got = star.Scd2.build(ev, Seq("nk"), col("d"), Seq(col("tb")), Seq("tier"))
      .select(col("nk"), col("tier"), col("valid_from").cast("string"),
        col("valid_to").cast("string"), col("version"), col("is_current"))
      .orderBy("nk", "version")
      .as[(Long, String, String, String, Int, Int)].collect().toSeq
    assert(got == Seq(
      (1L, "gold", "2020-01-01", "2020-03-01", 1, 0),
      (1L, "silver", "2020-03-01", "2020-04-01", 2, 0),
      (1L, "gold", "2020-04-01", null, 3, 1),
      (2L, "bronze", "2020-01-15", null, 1, 1)))
  }

  test("Scd2 plans exactly one shuffle (both windows share the key partitioning)") {
    val ev = (1 to 100).map(i => ((i % 10).toLong, i, s"a${i % 3}"))
      .toDF("nk", "seq", "attr")
    val plan = star.Scd2.build(ev, Seq("nk"), col("seq"), Nil, Seq("attr"))
      .queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, s"expected 1 Exchange:\n$plan")
  }

  test("TF-IDF: token unique to one doc scores higher than a shared one") {
    val df = Seq((1L, "cat dog cat"), (2L, "dog bird")).toDF("doc_id", "text")
    val m = TextAnalysis.tfIdf(df, "doc_id", "text")
      .select("doc", "token", "tfidf")
      .as[(Long, String, Double)].collect()
      .map { case (doc, tok, v) => (doc, tok) -> v }.toMap
    assert(m((1L, "cat")) > m((1L, "dog")))
    assert(m((2L, "dog")) == 0.0) // appears in all docs -> idf ln(1)=0... (df=2, n=2)
  }
}
