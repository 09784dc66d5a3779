package graft

import graft.operators.Ids
import org.apache.spark.sql.functions._

/** Round-15 pins: the denseIds null-safe join-back (r14 advice item 1 —
  * a null key is a legal unique key and must keep its row on the small
  * path exactly as it does on the distributed and key-only paths).
  */
class Round15Spec extends SparkSpec {
  import spark.implicits._

  test("denseIds small path keeps a null-keyed row (null-safe join-back)") {
    val df = Seq((Option("a"), 1), (Option.empty[String], 2), (Option("b"), 3))
      .toDF("k", "v")
    def run() = Ids.denseIds(df, "k")
      .collect().map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2)))
      .toSet
    val fast = run()
    // null sorts first under Spark's asc ordering → gid 1
    assert(fast == Set((None, 2, 1L), (Some("a"), 1, 2L), (Some("b"), 3, 3L)))
    val slow = Ids.globalRankDist(df, col("k"), asc = true, col("k"))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1), r.getLong(2)))
      .toSet
    assert(fast == slow)
  }

  test("graphSearchTopKAuto: operator-derived entries cover the cluster structure (no per-corpus dial)") {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    val cl = (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
    val qs = cl.filter(col("id") < 20)
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = edges(operators.Similarity.bruteForceTopK(qs, cl, 5))
    val g = operators.Similarity.nnDescentGraph(cl, 10, iters = 3)
    // defaults only — the operator picks the entry set from the data;
    // the hand-dial baseline (entries = 4) measures 0.05 on this fixture
    val auto = edges(operators.Similarity.graphSearchTopKAuto(
      g, cl, qs, k = 5, beam = 8, hops = 4))
    val recall = (auto & exact).size.toDouble / exact.size
    info(f"auto-entry graph-search recall@5: $recall%.4f") // measured 1.0000
    assert(recall >= 0.9, f"auto-entry recall $recall%.4f below 0.9")
  }

  test("knnGraphExtendFromReps: fold recall >= 0.9 with operator-derived entries") {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    val all = (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
    val old = all.filter(col("id") % 200 >= 40)
    val batch = all.filter(col("id") % 200 < 40)
    def edges(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "cand_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = operators.Similarity.nnDescentGraph(old, 5, iters = 3)
    // the search-leg entry set is derived from the standing corpus
    // (Round14Spec's twin hand-sets entries = 64)
    val ext = operators.Similarity.knnGraphExtendFromReps(
      g, old, batch, operators.Similarity.entryReps(old), k = 5, beam = 8,
      hops = 3)
    val exactB = edges(operators.Similarity.bruteForceTopK(batch, all, 5))
    val gotB = edges(ext.filter(col("query_id") % 200 < 40))
    val recallB = (gotB & exactB).size.toDouble / exactB.size
    info(f"auto-entry fold batch-list recall@5: $recallB%.4f")
    assert(recallB >= 0.9, f"auto-entry fold recall $recallB%.4f below 0.9")
  }

  test("stripe groups stay ~k+1 under adversarial id patterns (the r14-advice claim, pinned)") {
    // the r14 id-residue stripes inflated quadratically when ids shared
    // a factor with the stripe (every-5th-id batches, hash-sparse ids);
    // rank-residue groups are bounded for ANY id distribution
    val rnd = new scala.util.Random(3)
    val patterns: Seq[(String, Seq[Long])] = Seq(
      ("every-5th", (0 until 500).map(i => i * 5L)),
      ("stripe-aligned", (0 until 500).map(i => i * 100L)),
      ("hash-sparse", (0 until 500).map(_ => math.abs(rnd.nextLong()) % (1L << 40)).distinct),
      ("dense", (0 until 500).map(_.toLong)))
    patterns.foreach { case (name, ids) =>
      val n = ids.length.toLong
      val k = 10
      val stripe = math.max(1L, n / (k + 1L))
      val frame = ids.map(i => (i, Array.fill(8)((i % 7).toFloat - 3f)))
        .toDF("id", "vec")
      val ranked = operators.Similarity.bucketRanked(frame, n, bits = 6)
      val deg = operators.Similarity.stripePairs(ranked, stripe)
        .groupBy("query_id").count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      val bound = math.ceil(n.toDouble / stripe).toLong // group size cap
      assert(deg <= bound,
        s"$name: max stripe degree $deg exceeds group bound $bound")
    }
  }

  test("graph-tier terminal-cut contract: sweep-less fold loop accumulates only caller-held frames") {
    val rnd = new scala.util.Random(11)
    def unit(): Array[Float] = {
      val v = Array.fill(32)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(10)(unit())
    val all = (0 until 300).map { i =>
      val c = cents(i % 10)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.3f * b })
    }.toDF("id", "vec")
    val day0 = all.filter(col("id") < 100)
    val day1 = all.filter(col("id") >= 100 && col("id") < 200)
    val day2 = all.filter(col("id") >= 200)
    val base = spark.sparkContext.getPersistentRDDs.size
    // the ingest loop the operator targets, with NO Blocks.sweep:
    // day-0 build, then two folds, freeing each superseded graph
    var g = operators.Similarity.nnDescentGraph(day0, k = 5, iters = 2)
    var corpus = day0
    Seq(day1, day2).foreach { batch =>
      val next = operators.Similarity.knnGraphExtend(
        g, corpus, batch, k = 5, beam = 6, hops = 2, entries = 8)
      Blocks.free(g)
      g = next
      corpus = corpus.unionByName(batch)
    }
    assert(g.count() > 0)
    // only the caller-held result may remain pinned: every per-call
    // intermediate (corpus cut, search legs, loop rounds) is freed by
    // the operators themselves
    val live = spark.sparkContext.getPersistentRDDs.size - base
    assert(live <= 1, s"pinned frames accumulated across folds: $live live beyond baseline")
    Blocks.free(g)
    assert(spark.sparkContext.getPersistentRDDs.size <= base)
  }
}
