package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._
import graft.expressions.{MinHashSignature, ShingleHashes}
import graft.operators.Dedup

/** Property law for the fused MinHash kernels: for ARBITRARY strings
  * (mixed-alphabet tokens, runs of spaces, leading/trailing spaces,
  * empty strings, non-BMP codepoints) and k in 1..5, the shingle kernel
  * equals the plain-Scala reference of the documented semantics (order
  * included) and the signature kernel equals the reference minima.
  */
object MinHashKernelPropsSpec extends Properties("graft.minhashKernel") {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val tokenChar: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("a", "b", "c", "d"), // small alphabet: repeated shingles
    2 -> Gen.oneOf("é", "ß", "中", "ю", "ω"),
    1 -> Gen.const("😀"),               // non-BMP emoji (surrogate pair)
    3 -> Gen.const(" "))                // token breaks, doubled spaces
  private val textGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 60)
    cs <- Gen.listOfN(n, tokenChar)
  } yield cs.mkString

  property("shingle and signature kernels == plain reference for arbitrary text") =
    Prop.forAll(Gen.listOfN(12, textGen), Gen.chooseNum(1, 5)) { (texts, k) =>
      val rows = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text").repartition(2)
        .select(col("id"), ShingleHashes(col("text"), k).as("sh"))
        .select(col("id"), col("sh"),
          MinHashSignature(col("sh"), Dedup.minhashCoeffs(8)).as("sig"))
        .collect().map(r => r.getLong(0) -> r).toMap
      val bad = texts.zipWithIndex.filterNot { case (t, i) =>
        val r = rows(i.toLong)
        val want = MinHashReference.shingles(t, k)
        r.getSeq[Long](1).toSeq == want && (want.isEmpty ||
          r.getSeq[Long](2).toSeq == MinHashReference.signature(want, 8))
      }
      bad.isEmpty :| s"k=$k mismatched texts: ${bad.map(_._1).mkString("|")}"
    }
}
