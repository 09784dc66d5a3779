package graft

import org.scalacheck.{Arbitrary, Gen, Prop, Properties}
import org.scalacheck.Prop.propBoolean
import org.apache.spark.sql.functions._
import graft.functions._
import graft.star.{CalendarDim, Dims}

/** Property-based laws (SURVEY.md §5.2-3). Batched: each property
  * evaluates a whole generated dataset in one Spark job.
  */
object PropertiesSpec extends Properties("graft") {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private val twoDp: Gen[Double] =
    Gen.chooseNum(-999999L, 999999L).map(_ / 100.0)

  property("format∘parse identity on 2dp doubles") =
    Prop.forAll(Gen.listOfN(20, twoDp)) { xs =>
      xs.isEmpty || {
        val got = xs.toDF("x")
          .select(parseBrDouble(formatDecimalComma($"x"))).as[Double].collect()
        got.toSeq == xs
      }
    }

  /** Number-shaped BR text, near and on both sides of the guard: padding,
    * sign, thousands dots, decimal comma, exponent, suffix and one or two
    * line terminators.
    */
  private val brShaped: Gen[String] = for {
    pad <- Gen.oneOf("", " ", "  ", "\t")
    sign <- Gen.oneOf("", "+", "-")
    int <- Gen.listOf(Gen.oneOf("0123456789.".toSeq)).map(_.mkString)
    frac <- Gen.oneOf("", ",", ",5", ",25", ",007")
    exp <- Gen.oneOf("", "e3", "E-2", "e+10", "e", "e999", "E-400")
    suffix <- Gen.oneOf("", "f", "F", "d", "D", "dd", "x")
    term <- Gen.oneOf("", "", "\n", "\r", "\r\n", "\u2028", "\u2029", "\u0085", "\n\n", " \n")
    tail <- Gen.oneOf("", " ", "  ", "\t")
  } yield pad + sign + int + frac + exp + suffix + term + tail

  private val brText: Gen[String] = Gen.frequency(
    1 -> Gen.const(null),
    5 -> Gen.listOf(Gen.oneOf(("0123456789.,  áéçãÓü+-eEfFdD\t\n\r\u2028".map(_.toString) :+
      "\r\n"))).map(_.mkString),
    4 -> brShaped)

  /** parseBrDouble's Column form before its kernel, the test-side
    * reference for [[graft.expressions.BrDouble]].
    */
  private def brDoubleColumn(c: org.apache.spark.sql.Column) = {
    val normalized = trim(translate(c, ",.", "."))
    val guarded = normalized
      .rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?$")
    when(guarded, regexp_replace(normalized, "[fFdD]$", "").cast("double"))
      .otherwise(lit(0.0))
  }

  property("BrDouble == parseBrDouble's Column form, bit for bit, nulls included") =
    Prop.forAll(Gen.listOfN(60, brText)) { xs =>
      val local = xs.toDF("s")
      // folded into the local relation (interpreted), and generated code
      Seq(local, local.repartition(2)).forall { df =>
        df.select(parseBrDouble($"s"), brDoubleColumn($"s")).collect().forall { r =>
          def bits(i: Int) =
            if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i)))
          bits(0) == bits(1)
        }
      }
    }

  property("BR kernels: translate forms == the regexp_replace forms") =
    Prop.forAll(Gen.listOfN(40, Gen.zip(brText, Arbitrary.arbitrary[Double]))) { xs =>
      val s = xs.toDF("s", "x")
      // the regexp_replace kernels parseBrDouble / formatDecimalComma used
      val oldNorm = trim(regexp_replace(regexp_replace($"s", "\\.", ""), ",", "."))
      val oldGuard = oldNorm
        .rlike("^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?$")
      val oldParse = when(oldGuard,
        regexp_replace(oldNorm, "[fFdD]$", "").cast("double")).otherwise(lit(0.0))
      s.filter(!(parseBrDouble($"s") <=> oldParse) ||
          !(translate($"s", ".", ",") <=> regexp_replace($"s", "\\.", ",")) ||
          !(formatDecimalComma($"x") <=>
            regexp_replace(format_string("%.2f", $"x"), "\\.", ",")))
        .isEmpty
    }

  property("calendar row-count == days-between + 1, keys strictly increasing") =
    Prop.forAll(Gen.chooseNum(0L, 2000L), Gen.chooseNum(10000L, 15000L)) { (a, b) =>
      val lo = java.time.LocalDate.ofEpochDay(a)
      val hi = java.time.LocalDate.ofEpochDay(b)
      val cal = CalendarDim.overRange(spark, lo.toString, hi.toString)
      val keys = cal.select($"ChaveData").as[Int].collect()
      keys.length == (b - a + 1) && keys.sorted.toSeq == keys.toSeq.sorted &&
        keys.distinct.length == keys.length
    }

  property("surrogate keys are dense 1..N over any distinct input") =
    Prop.forAll(Gen.listOfN(50, Gen.alphaStr.map(_.take(4)))) { vs =>
      vs.nonEmpty ==> {
        val dim = Dims.distinctDim(vs.toDF("v"), "sk", Seq("v"))
        val sks = dim.select($"sk").as[Long].collect().sorted.toSeq
        sks == (1L to vs.distinct.length.toLong).toSeq
      }
    }

  property("exact dedup is idempotent") =
    Prop.forAll(Gen.listOfN(60, Gen.chooseNum(0, 9))) { ks =>
      ks.nonEmpty ==> {
        val df = ks.zipWithIndex.map { case (k, i) => (k.toLong, i.toLong) }
          .toDF("k", "id")
        val once = operators.Dedup.exact(df, Seq("k"), Seq(col("id")))
        val twice = operators.Dedup.exact(once, Seq("k"), Seq(col("id")))
        once.as[(Long, Long)].collect().sorted.toSeq ==
          twice.as[(Long, Long)].collect().sorted.toSeq
      }
    }

  property("parseDateKey never yields negative or malformed keys") =
    Prop.forAll(Gen.oneOf(
      Gen.const(null: String), Gen.alphaStr,
      Gen.chooseNum(0L, 20000L).map(d => java.time.LocalDate.ofEpochDay(d).toString),
      Gen.chooseNum(0L, 20000L).map(d => s"${java.time.LocalDate.ofEpochDay(d)}T10:30:00"))) { s =>
      val k = Seq(s).toDF("s").select(parseDateKey($"s")).as[Int].collect()(0)
      k == 0 || (k >= 19700101 && k <= 20241231 && (k % 100) >= 1 && (k % 100) <= 31)
    }
}

/** Iterative-algorithm properties get their own (small) case budget: each
  * case drives an O(log diameter) round loop of Spark jobs, so 100 cases
  * would dominate the suite for no extra coverage.
  */
object ComponentsProperties extends Properties("components") {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(4)

  property("large-star/small-star labels permuted paths beyond min-label's budget") =
    Prop.forAll(Gen.chooseNum(150, 350), Gen.chooseNum(0L, Long.MaxValue)) {
      (n, seed) =>
        // a path over PERMUTED ids: the component minimum sits at an
        // arbitrary position, diameter n in the hundreds: a solver that
        // needed one round per hop would need hundreds of rounds
        val rnd = new scala.util.Random(seed)
        val ids = rnd.shuffle((0L to n.toLong).toVector)
        val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
        val nodes = ids.toDF("id")
        val got = operators.Components
          .largeStarSmallStar(edges, "src", "dst", nodes, "id")
          .as[(Long, Long)].collect()
        got.length == n + 1 && got.forall(_._2 == 0L)
    }

  property("large-star/small-star == union-find (random graphs)") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val n = 40
      val edges = Seq.fill(30)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).toDF("src", "dst")
      val nodes = (0L until n.toLong).toDF("id")
      val a = operators.Components
        .largeStarSmallStar(edges, "src", "dst", nodes, "id")
        .as[(Long, Long)].collect().sorted.toSeq
      // 30 edges sit far under the gate: the driver-side union-find
      val b = operators.Components
        .minLabelAdaptive(edges, "src", "dst", nodes, "id")
        .as[(Long, Long)].collect().sorted.toSeq
      a == b
    }
}

/** Dedup-family laws over RANDOM corpora — each case drives several Spark
  * jobs, so the budget is small (the deterministic fixtures in
  * OperatorsSpec cover the specific shapes; these cover the theorems).
  */
object DedupProperties extends Properties("dedup") {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  override def overrideParameters(p: org.scalacheck.Test.Parameters)
      : org.scalacheck.Test.Parameters =
    p.withMinSuccessfulTests(4)

  private def randomDocs(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = ('a' to 'j').map(_.toString)
    (1 to n).map { i =>
      val len = 6 + rnd.nextInt(5)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
  }

  property("simhash banding finds EXACTLY the brute-force hamming pairs") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      // pigeonhole losslessness: bands=4 > maxHamming=3, so the banded
      // self-join must equal the all-pairs popcount filter
      val docs = randomDocs(seed, 20).toDF("doc_id", "text")
      val got = operators.Dedup
        .simhashPairs(docs, "doc_id", "text", bits = 24, bands = 4, maxHamming = 3)
        .as[(Long, Long, Int)].collect().sorted.toSeq
      val sigs = operators.Dedup
        .simhashSignatures(docs, "doc_id", "text", bits = 24)
        .select($"id", $"sig").as[(Long, Long)].collect()
      val naive = (for {
        (i1, h1) <- sigs; (i2, h2) <- sigs if i1 < i2
        d = java.lang.Long.bitCount(h1 ^ h2) if d <= 3
      } yield (i1, i2, d)).sorted.toSeq
      got == naive
    }

  property("exactByFingerprint == exact for any key/order data") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val df = (1 to 80).map { i =>
        (i.toLong, s"k${rnd.nextInt(10)}", rnd.nextInt(5).toLong)
      }.toDF("id", "key", "ord")
      val viaFp = operators.Dedup
        .exactByFingerprint(df, Seq("key"), Seq(col("ord")), "id")
        .as[(Long, String, Long)].collect().sorted.toSeq
      val viaExact = operators.Dedup
        .exact(df, Seq("key"), Seq(col("ord"), col("id")))
        .as[(Long, String, Long)].collect().sorted.toSeq
      viaFp == viaExact
    }

  property("native portable hash == HOF twin on arbitrary unicode strings") =
    Prop.forAll(Gen.listOfN(30, Gen.listOf(Gen.frequency(
      8 -> Gen.asciiPrintableChar,
      2 -> Gen.choose('¡', '퟿'))).map(_.mkString))) { ss =>
      ss.isEmpty || {
        val rows = ss.toDF("s")
          .select(portableStringHash($"s"), portableStringHashHof($"s"))
          .as[(Long, Long)].collect()
        rows.forall { case (a, b) => a == b }
      }
    }

  property("packSequences: bin * ctx + bin_off == exact running token offset") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue), Gen.chooseNum(8, 64)) { (seed, ctx) =>
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 40).map { i =>
        (i.toLong, s"g${rnd.nextInt(3)}",
          List.fill(1 + rnd.nextInt(30))("w").mkString(" "))
      }
      val got = operators.TextAnalysis
        .packSequences(docs.toDF("doc_id", "grp", "text"), "doc_id", "text", "grp", ctx)
        .select($"grp", $"doc_id", $"n_tokens", $"bin", $"bin_off")
        .as[(String, Long, Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._2))
      got.forall { case (_, rows) =>
        var off = 0L
        rows.forall { case (_, _, n, bin, binOff) =>
          val ok = bin == off / ctx && binOff == off % ctx
          off += n
          ok
        }
      }
    }

  property("mixtureSample: output is the hash-gated subset, smallest stratum whole") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 120).map(i => (i.toLong, s"s${rnd.nextInt(4)}"))
      val df = docs.toDF("doc_id", "st")
      val kept = operators.TextAnalysis.mixtureSample(df, "doc_id", "st")
        .select($"doc_id").as[Long].collect().toSet
      val counts = docs.groupBy(_._2).view.mapValues(_.size).toMap
      val minN = counts.values.min
      def permille(n: Int) = math.floor(math.sqrt(minN.toDouble / n) * 1000).toLong
      def gate(id: Long): Boolean = {
        val h = id.toString.foldLeft(7L)((a, c) => (a * 31 + c.toInt) % 1000000007L)
        (h * 2654435761L + 97L) % 1000000007L % 1000 < permille(counts(docs(id.toInt - 1)._2))
      }
      docs.forall { case (id, st) =>
        kept.contains(id) == gate(id) &&
          (counts(st) != minN || !kept.contains(id) == !gate(id))
      }
    }

  property("stripSharedPassages: chunk accounting balances; unshared corpora intact") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      // half the docs share one 8-token passage, half are unique
      val shared = (1 to 8).map(i => s"s$i").mkString(" ")
      val docs = (1 to 20).map { i =>
        val own = List.fill(8 + rnd.nextInt(16))(s"w${i}_${rnd.nextInt(9)}").mkString(" ")
        (i.toLong, if (i % 2 == 0) s"$shared $own" else own)
      }
      val df = docs.toDF("doc_id", "text")
      val got = operators.Dedup.stripSharedPassages(df, "doc_id", "text", window = 8)
        .as[(Long, String, Long)].collect().sortBy(_._1)
      val nChunks = docs.map { case (_, t) =>
        math.ceil(t.split(" ").length / 8.0).toLong }.sum
      val keptChunks = got.map(r =>
        if (r._2.isEmpty) 0L else math.ceil(r._2.split(" ").length / 8.0).toLong).sum
      // kept + removed == total chunks (trailing short chunks stay short,
      // so re-chunking the kept text at the same window is only an upper
      // bound — compare via the removal count instead)
      got.map(_._3).sum + keptChunks >= nChunks &&
        got.forall(r => r._3 >= 0) &&
        // every odd doc (never shares its passage) survives verbatim
        got.filter(_._1 % 2 == 1).forall { r =>
          docs.find(_._1 == r._1).get._2 == r._2 && r._3 == 0L
        }
    }

  property("invertedIndex: df <= cf, postings length == df, cf sums to corpus tokens") =
    Prop.forAll(Gen.chooseNum(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1 to 25).map { i =>
        (i.toLong, List.fill(1 + rnd.nextInt(20))(s"t${rnd.nextInt(8)}").mkString(" "))
      }
      val rows = operators.TextAnalysis
        .invertedIndex(docs.toDF("doc_id", "text"), "doc_id", "text")
        .as[(String, Long, Long, String)].collect()
      val totalTokens = docs.map(_._2.split(" ").length).sum
      rows.forall { case (_, df_, cf, postings) =>
        df_ <= cf && postings.split(",").length == df_ &&
          postings.split(",").map(_.toLong).sorted.sameElements(
            postings.split(",").map(_.toLong))
      } && rows.map(_._3).sum == totalTokens
    }
}
