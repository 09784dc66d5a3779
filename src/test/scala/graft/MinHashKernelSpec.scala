package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import graft.expressions.{MinHashSignature, ShingleHashes}
import graft.functions._
import graft.operators.Dedup

/** References the MinHash kernels are pinned to. */
object MinHashReference {
  val P = 1000000007L

  /** The higher-order shingle chain the kernel replaced: split on " ",
    * portable-hash each token, fold every k consecutive token hashes
    * (seed 7, base 31, mod p), `array_distinct`. Short documents give
    * `[]`, and so does null text (`size(null)` is -1).
    */
  def hofShingles(text: Column, k: Int): Column = {
    val th = transform(split(text, " "), t => portableStringHash(t))
    when(size(th) >= k,
      array_distinct(transform(
        sequence(lit(0), size(th) - lit(k)),
        i => (0 until k).foldLeft(lit(7L): Column)((acc, j) =>
          pmod(acc * lit(31L) + element_at(th, i + lit(j + 1)), lit(HashPrime))))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** (id, sig) the way signatures were built before the kernel: explode
    * the (id, sh) shingles to rows and take the m affine minima as `min`
    * aggregates grouped by id. Documents with no shingle drop out.
    */
  def explodeMinSignatures(sh: DataFrame, m: Int): DataFrame = {
    val aggs = Dedup.minhashCoeffs(m).zipWithIndex.map { case ((a, b), j) =>
      min(pmod(col("x") * lit(a) + lit(b), lit(HashPrime))).as(s"s$j")
    }
    sh.select(col("id"), explode(col("sh")).as("x"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until m).map(j => col(s"s$j")): _*).as("sig"))
  }

  private def tokenHash(t: String): Long = {
    var h = 7L
    var i = 0
    while (i < t.length) {
      val cp = t.codePointAt(i)
      h = (h * 31L + cp) % P
      i += Character.charCount(cp)
    }
    h
  }

  /** Plain-Scala shingles of the documented semantics: Java
    * `split(" ", -1)`, codepoint polyhash, fold, distinct in order.
    */
  def shingles(s: String, k: Int): Seq[Long] = {
    val th = s.split(" ", -1).map(tokenHash)
    if (th.length < k) Seq.empty
    else (0 to th.length - k).map(i =>
      (0 until k).foldLeft(7L)((acc, j) => (acc * 31L + th(i + j)) % P)).distinct
  }

  /** Plain-Scala signature of a non-empty shingle set. */
  def signature(sh: Seq[Long], m: Int): Seq[Long] =
    Dedup.minhashCoeffs(m).map { case (a, b) => sh.map(x => (x * a + b) % P).min }
}

/** The fused MinHash kernels (graft.expressions.ShingleHashes and
  * MinHashSignature) must be bit-identical to the higher-order shingle
  * chain and the explode-and-min signature step they replace, on the
  * tokenization corner cases Java's regex split on `" "` (limit -1)
  * produces, under both generated and interpreted evaluation; and the
  * MinHash frames must compute each kernel once per row, with no
  * explode or aggregate.
  */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._
  import MinHashReference._

  private val tricky = Seq(
    "plain tokens here",
    "",                      // one empty token
    " ",                     // two empty tokens
    "a  b",                  // empty token between a and b
    " leading",
    "trailing ",
    "  ",
    "single",
    "two words",
    "café naïve",            // accented latin
    "你好 世界",              // CJK
    "emoji 😀 pair 😀 emoji 😀 pair", // surrogate pairs, repeated shingles
    "a b a b a b a b",       // repeats: distinct keeps first occurrences
    "repeated repeated repeated repeated",
    "x y z w v u t s r q p o n m l k j"
  )

  // repartitioned so projections run on executors, not folded into a
  // local relation on the driver
  private def frame(texts: Seq[String]): DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      .repartition(2)

  private def shMap(df: DataFrame): Map[Long, Seq[Long]] =
    df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap

  test("shingle kernel == the HOF chain and the plain reference, order included, k = 1/2/3/5") {
    for (k <- Seq(1, 2, 3, 5)) {
      val df = frame(tricky)
      val fused = shMap(df.select(col("id"), ShingleHashes(col("text"), k)))
      val hof = shMap(df.select(col("id"), hofShingles(col("text"), k)))
      assert(fused == hof, s"k=$k: kernel diverges from the HOF chain")
      tricky.zipWithIndex.foreach { case (t, i) =>
        assert(fused(i.toLong) == shingles(t, k), s"k=$k text='$t'")
      }
    }
    // fewer than k tokens: no shingles
    assert(shMap(frame(Seq("one two")).select(col("id"),
      ShingleHashes(col("text"), 3)))(0L).isEmpty)
  }

  test("signature kernel == explode-and-min over the same shingles, k = 1/3/5") {
    for (k <- Seq(1, 3, 5)) {
      val sh = frame(tricky).select(col("id"), ShingleHashes(col("text"), k).as("sh"))
        .filter(size(col("sh")) > 0)
      val fused = shMap(sh.select(col("id"),
        MinHashSignature(col("sh"), Dedup.minhashCoeffs(16))))
      val agg = shMap(explodeMinSignatures(sh, 16))
      assert(fused.nonEmpty && fused == agg, s"k=$k: signature kernel diverges")
    }
  }

  test("null text gives null shingles and signature; no shingle gives m null minima") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, "a b")).toDF("id", "text")
      .repartition(1)
      .select(col("id"), ShingleHashes(col("text"), 3).as("sh"))
      .select(col("id"), col("sh"),
        MinHashSignature(col("sh"), Dedup.minhashCoeffs(4)).as("sig"))
    val rows = df.collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).isNullAt(1) && rows(1L).isNullAt(2))
    assert(rows(2L).getSeq[Long](1).isEmpty)
    assert(rows(2L).getSeq[java.lang.Long](2) == Seq.fill[java.lang.Long](4)(null))
  }

  test("kernels agree under forced codegen and interpreted eval") {
    def run(): (Map[Long, Seq[Long]], Map[Long, Seq[Long]]) = {
      val sh = frame(tricky).select(col("id"), ShingleHashes(col("text"), 3).as("sh"))
        .filter(size(col("sh")) > 0)
      (shMap(sh), shMap(sh.select(col("id"),
        MinHashSignature(col("sh"), Dedup.minhashCoeffs(16)))))
    }
    // no fallback: a kernel whose generated code failed to compile would
    // throw here instead of quietly running interpreted
    val generated = withSQLConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    val interpreted = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(generated._1.nonEmpty && generated == interpreted)
    assert(generated._1 == tricky.zipWithIndex.collect {
      case (t, i) if shingles(t, 3).nonEmpty => i.toLong -> shingles(t, 3)
    }.toMap)
  }

  test("at-rest (sh, sig) over a generated corpus == HOF shingles + explode-and-min") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 60).map(i => s"w$i") ++ Seq("", "é", "😀")
    val texts = (0 until 1500).map(_ =>
      Seq.fill(rnd.nextInt(40))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val docs = frame(texts)
    val rest = Dedup.minhashAtRest(docs, "id", "text")
    val gotSh = shMap(rest.select("id", "sh"))
    val gotSig = shMap(rest.select("id", "sig"))
    val hof = docs.select(col("id"), hofShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    assert(gotSh == shMap(hof))
    assert(gotSig == shMap(explodeMinSignatures(hof, 16)))
    graft.Blocks.free(rest)
  }

  /** Executed plans of the eager cuts `body` runs. */
  private def cutPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName.toLowerCase.contains("checkpoint")) plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftTestCoreBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(nodes)
  }

  private def kernelCount(ps: Seq[SparkPlan], pred: Any => Boolean): Int =
    ps.flatMap(nodes).flatMap(_.expressions).map(_.collect {
      case e if pred(e) => e
    }.size).sum

  test("signature frames: no Generate, no Aggregate, each kernel once per row") {
    val docs = frame(tricky)
    for ((name, run) <- Seq[(String, () => DataFrame)](
        "minhashSignatures" -> (() => Dedup.minhashSignatures(docs, "id", "text")),
        "minhashAtRest" -> (() => Dedup.minhashAtRest(docs, "id", "text")))) {
      var out: DataFrame = null
      val plans = cutPlans { out = run() }
      assert(plans.size == 1, s"$name: expected one cut, saw ${plans.size}")
      val all = plans.flatMap(nodes)
      assert(!all.exists(_.isInstanceOf[org.apache.spark.sql.execution.GenerateExec]),
        s"$name explodes:\n${plans.head}")
      assert(!all.exists(_.isInstanceOf[
          org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
        s"$name aggregates:\n${plans.head}")
      assert(kernelCount(plans, _.isInstanceOf[ShingleHashes]) == 1,
        s"$name evaluates the shingle kernel more than once:\n${plans.head}")
      assert(kernelCount(plans, _.isInstanceOf[MinHashSignature]) == 1,
        s"$name evaluates the signature kernel more than once:\n${plans.head}")
      graft.Blocks.free(out)
    }
  }
}
