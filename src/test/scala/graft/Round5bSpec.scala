package graft

import org.apache.spark.sql.functions._
import graft.operators.{Sessionize, Similarity, TextAnalysis}

/** Round-5 batch 2: product-quantization ANN, sweep-line concurrency,
  * lexical diversity, bigram LM scoring, epoch scheduling.
  */
class Round5bSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------------- PQ

  /** Deterministic 8-dim corpus (m=4 -> 2-dim subspaces) with an exact
    * duplicate of every vector at id+100.
    */
  private def pqCorpus = {
    def vec(i: Int): Array[Float] =
      (0 until 8).map(j => math.sin(i * 1.7 + j * 0.9).toFloat).toArray
    val base = (0 until 10).map(i => (i.toLong, vec(i)))
    (base ++ base.map { case (id, v) => (id + 100L, v) }).toDF("id", "vec")
  }

  test("pqTopK: an exact duplicate attains the minimal ADC distance") {
    val corpus = pqCorpus
    val queries = corpus.filter($"id" < 10)
    val codebook = corpus.filter($"id" < 4)
    val all = Similarity.pqTopK(queries, corpus, codebook, k = 20, m = 4)
      .as[(Long, Int, Long, Double)].collect()
    (0 until 10).foreach { q =>
      val mine = all.filter(_._1 == q)
      val dupAdc = mine.find(_._3 == q + 100L)
        .getOrElse(fail(s"duplicate of $q missing from its top-20"))._4
      // code(q) minimizes the per-subspace table entry, so the duplicate's
      // ADC is the global minimum for query q
      assert(dupAdc == mine.minBy(_._4)._4, s"query $q: dup adc $dupAdc")
      assert(mine.head._4 == dupAdc) // rnk 1 carries the minimal distance
    }
  }

  test("pqTopK is deterministic across runs and ranks (adc asc, id asc)") {
    val corpus = pqCorpus
    val q = corpus.filter($"id" < 4)
    def run() = Similarity.pqTopK(q, corpus, q, k = 5, m = 2)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val a = run()
    assert(a == run())
    a.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(r => (r._4, r._3)) == sorted.map(r => (r._4, r._3)).sorted)
    }
  }

  // ---------------------------------------------------------- concurrency

  private def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)

  test("maxConcurrency: sweep-line peak with half-open [t, t+hold) intervals") {
    val ev = Seq(
      ("A", ts(0)), ("A", ts(5)), ("A", ts(8)), ("A", ts(20)),
      ("B", ts(0))
    ).toDF("k", "t")
    // A holds 10s: [0,10) [5,15) [8,18) [20,30) -> peak 3 at t=8s
    val got = Sessionize.maxConcurrency(ev, "k", "t", holdMs = 10000L)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(got(0) == (("A", 3L, 8000L)))
    assert(got(1) == (("B", 1L, 0L)))
  }

  test("maxConcurrency: an end and a start at the same instant cancel") {
    // [0,10) ends exactly as [10,20) begins -> never 2 concurrent
    val ev = Seq(("A", ts(0)), ("A", ts(10))).toDF("k", "t")
    val got = Sessionize.maxConcurrency(ev, "k", "t", holdMs = 10000L)
      .as[(String, Long, Long)].collect()
    assert(got.head._2 == 1L)
  }

  // ------------------------------------------------------- lexical stats

  test("typeTokenStats: types, hapaxes and TTR from the sorted token array") {
    val docs = Seq((1L, "b a b c c c"), (2L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.typeTokenStats(docs, "doc_id", "text")
      .select($"id", $"n_tokens", $"n_types", $"n_hapax", $"ttr")
      .as[(Long, Int, Int, Int, Double)].collect().sortBy(_._1)
    assert(got(0) == ((1L, 6, 3, 1, 0.5))) // hapax: only 'a'
    assert(got(1) == ((2L, 1, 1, 1, 1.0))) // boundary guards on both ends
  }

  // ----------------------------------------------------------- bigram LM

  test("bigramLogProb: corpus-conditional probabilities, short docs drop") {
    val docs = Seq((1L, "a b a b"), (2L, "a c"), (3L, "solo"))
      .toDF("doc_id", "text")
    // bigrams: d1 = {a b, b a, a b}, d2 = {a c}; c(a)=3, c(b)=1
    // d1: (2 ln(2/3) + ln(1)) / 3 ; d2: ln(1/3) ; d3: no bigrams
    val got = TextAnalysis.bigramLogProb(docs, "doc_id", "text")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(got.length == 2)
    assert(got(0)._2 == 3L)
    assert(math.abs(got(0)._3 - 2 * math.log(2.0 / 3) / 3) < 1e-5)
    assert(math.abs(got(1)._3 - math.log(1.0 / 3)) < 1e-5)
  }

  // ------------------------------------------------------ epoch schedule

  private def mixDocs = {
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    Seq(
      (1L, "big", doc(100)), (2L, "big", doc(100)),
      (3L, "small", doc(50)), (4L, "small", doc(50))
    ).toDF("doc_id", "source", "text")
  }

  test("epochSchedule: sources equalize to the largest source's tokens") {
    // big = 200 tokens (target), small = 100 -> w = 2.000 exactly
    val got = TextAnalysis.epochSchedule(mixDocs, "doc_id", "text", "source")
      .select($"source", $"id", $"repeats", $"epoch")
      .as[(String, Long, Int, Int)].collect()
    assert(got.count(_._1 == "big") == 2) // one epoch each
    assert(got.filter(_._1 == "big").forall(_._3 == 1))
    assert(got.count(_._1 == "small") == 4) // two epochs each
    assert(got.filter(_._1 == "small").forall(_._3 == 2))
    // epoch indexes enumerate 0..repeats-1 per doc
    assert(got.filter(_._2 == 3L).map(_._4).sorted.toSeq == Seq(0, 1))
  }

  test("epochSchedule: maxRepeats caps the blowup of a tiny source") {
    val got = TextAnalysis.epochSchedule(mixDocs, "doc_id", "text", "source",
      maxRepeats = 1)
    assert(got.filter($"repeats" =!= 1).count() == 0)
    assert(got.count() == 4)
  }

  // ------------------------------------------------------ weighted sample

  test("weightedSample: k per stratum, dominant weight always wins, stable") {
    val docs = ((1 to 9).map(i => (i.toLong, "s", 1.0)) :+ (10L, "s", 1e9))
      .toDF("doc_id", "stratum", "w")
    def run() = TextAnalysis.weightedSample(docs, "doc_id", "stratum",
      col("w"), k = 3)
      .select($"rnk", $"doc_id").as[(Int, Long)].collect().sortBy(_._1).toSeq
    val got = run()
    assert(got.size == 3)
    // ln(u)/1e9 ~ 0 beats every unit-weight row's ln(u)
    assert(got.head == ((1, 10L)), s"dominant row not rank 1: $got")
    assert(got == run()) // hash race keys: no RNG, no partitioning effects
  }
}
