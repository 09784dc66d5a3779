package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, TextAnalysis}

/** Property laws for the round-7 operators: the subword pointer-doubling
  * walk against a reference sequential greedy encoder, and the
  * wide-value second-moment fix under arbitrary magnitudes (ADVICE r6).
  */
object Round7PropsSpec extends Properties("graft.round7") {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  // --- subword: distributed doubling == naive sequential greedy --------

  /** Reference implementation: the literal per-string greedy loop the
    * distributed pointer-doubling formulation must reproduce.
    */
  private def naiveGreedyCount(pt: String, vocab: Set[String],
                               maxSubLen: Int): Long = {
    var i = 0; var c = 0L
    while (i < pt.length) {
      var m = 1
      var l = math.min(maxSubLen, pt.length - i)
      while (l >= 2) {
        if (m == 1 && vocab.contains(pt.substring(i, i + l))) m = l
        l -= 1
      }
      // NOTE: longest match = the LARGEST l in vocab; the loop above
      // scans high-to-low and locks the first hit
      i += m; c += 1
    }
    c
  }

  private val word: Gen[String] = Gen.oneOf(
    "aa", "ab", "abc", "abcd", "bc", "bcd", "cd", "x", "xyz", "aab",
    "zz9", "q", "0012", "..", "a.b")
  private val doc: Gen[String] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
  private val corpus: Gen[List[(Long, String)]] =
    Gen.chooseNum(2, 10).flatMap(n => Gen.listOfN(n, doc))
      .map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  property("subwordCounts == per-doc naive sequential greedy over the same vocab") =
    Prop.forAll(corpus, Gen.chooseNum(4, 24)) { (docs, vocabSize) =>
      docs.nonEmpty ==> {
        val df = docs.toDF("doc_id", "text")
        val ptf = df.select(explode(TextAnalysis.preTokens(col("text"))).as("pt"))
          .groupBy("pt").agg(count(lit(1)).as("cf"))
        val vocab = TextAnalysis.subwordVocabFromPtf(ptf, vocabSize, 6)
          .select("sub").as[String].collect().toSet
        val preRe = TextAnalysis.PreTokenRe.r
        val expected = docs.map { case (id, text) =>
          id -> preRe.findAllIn(text)
            .map(pt => naiveGreedyCount(pt, vocab, 6)).sum
        }.toMap
        val got = TextAnalysis.subwordCounts(df, "doc_id", "text", vocabSize, 6)
          .as[(Long, Long)].collect().toMap
        got == expected
      }
    }

  // --- standardizeDims: exactness at magnitudes that wrapped longs -----

  private val wideVec: Gen[Seq[Float]] =
    Gen.listOfN(4, Gen.chooseNum(-5000000, 5000000).map(_ / 1.0f)).map(_.toSeq)

  property("standardizeDims stays finite and centered at wide magnitudes") =
    Prop.forAll(Gen.chooseNum(5, 30).flatMap(n => Gen.listOfN(n, wideVec))) { vs =>
      val spread = (0 until 4).forall(i => vs.map(_(i)).distinct.size > 1)
      spread ==> {
        val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
          .toDF("id", "vec")
        val z = Similarity.standardizeDims(df).select("z")
          .as[Seq[Double]].collect()
        val n = z.length.toDouble
        (0 until 4).forall { i =>
          val col = z.map(_(i))
          val mu = col.sum / n
          val sd = math.sqrt(col.map(x => (x - mu) * (x - mu)).sum / n)
          col.forall(v => !v.isNaN && !v.isInfinite) &&
            math.abs(mu) < 1e-3 && math.abs(sd - 1.0) < 1e-2
        }
      }
    }

  // --- BMFF walker: build→parse round-trip and garbage rejection -------

  import graft.multimodal.Multimodal

  property("videoMeta round-trips minimalMp4 for any dims/duration/timescale") =
    Prop.forAll(Gen.chooseNum(1, 8192), Gen.chooseNum(1, 8192),
      Gen.chooseNum(0L, 86400000L),
      Gen.oneOf(600, 1000, 90000, 44100)) { (w, h, durMs, ts) =>
      // duration survives the units encoding only when representable:
      // round(round(durMs*ts/1000)*1000/ts) == durMs for these timescales
      val units = math.round(durMs.toDouble * ts / 1000.0)
      val back = math.round(units * 1000.0 / ts)
      // representable: round-trips through units AND fits mvhd v0's u32
      (back == durMs && units <= Int.MaxValue) ==> {
        Multimodal.videoMeta(Multimodal.minimalMp4(w, h, durMs, ts))
          .contains((w, h, durMs))
      }
    }

  property("videoMeta rejects arbitrary bytes and truncations, never throws") =
    Prop.forAll(Gen.listOf(Gen.chooseNum(-128, 127).map(_.toByte)),
      Gen.chooseNum(0, 40)) { (junk, cut) =>
      val mp4 = Multimodal.minimalMp4(64, 64, 1000L)
      // arbitrary bytes: None (no ftyp at top level) — and a truncated
      // genuine file parses to None or the true value, never garbage
      Multimodal.videoMeta(junk.toArray).isEmpty && {
        val t = Multimodal.videoMeta(mp4.take(math.min(cut, mp4.length)))
        t.isEmpty || t.contains((64, 64, 1000L))
      }
    }
}
