package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Blocks
import graft.Pipelines
import graft.operators.{Components, Dedup, TextAnalysis}

/** Ground truth of a generated corpus. Every document belongs to one
  * unit: a distinct document, an exact-duplicate group, a near-duplicate
  * cluster or a low-quality document. A correct curation keeps exactly
  * one document of each exact group and each distinct document, at
  * least one of each cluster, and no low-quality document.
  */
final case class CorpusTruth(docs: Int, unitOf: Map[Long, Int], kind: Map[Int, String])

/** Seeded multilingual corpus: Zipf-distributed tokens over per-language
  * vocabularies that start with the language's common words, with exact
  * duplicates, near-duplicate clusters (one or two substituted tokens)
  * and short repetitive low-quality documents planted at fixed rates.
  */
object CorpusGen {
  private val Langs = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "zu", "ein"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "se"),
    "fr" -> Seq("le", "la", "de", "et", "est", "les", "un", "une"),
    "pt" -> Seq("o", "a", "de", "que", "e", "do", "da", "em"))
  private val Vocab = 4000
  private val Common = 8
  private val ZipfS = 1.05
  private val Syllables = Seq("ka", "lo", "mi", "ra", "te", "su", "no", "vi", "ba", "de",
    "ru", "po", "shi", "an", "el", "or", "ix", "qua", "zen", "tor")

  // planted rates, in per mille of units
  private val LowQualityPm = 50
  private val ExactGroupPm = 100
  private val ClusterPm = 80

  private val cdf: Array[Double] = {
    val w = (1 to Vocab).map(r => 1.0 / math.pow(r, ZipfS))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  private def zipfRank(rnd: java.util.SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(if (i >= 0) i else -i - 1, Vocab - 1)
  }

  /** Returns (id, text, lang) rows in shuffled id order, and the truth. */
  def generate(docs: Int, seed: Long): (Seq[(Long, String, String)], CorpusTruth) = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab: Map[String, IndexedSeq[String]] = Langs.map { case (lang, common) =>
      val vr = new java.util.SplittableRandom(seed * 31 + lang.hashCode)
      val words = mutable.LinkedHashSet.empty[String] ++= common
      while (words.size < Vocab)
        words += (0 to vr.nextInt(3)).map(_ => Syllables(vr.nextInt(Syllables.size))).mkString
      lang -> words.toIndexedSeq
    }.toMap
    def text(lang: String, n: Int): IndexedSeq[String] =
      IndexedSeq.fill(n)(vocab(lang)(zipfRank(rnd)))
    val out = mutable.ArrayBuffer.empty[(String, String, Int)]
    val kind = mutable.HashMap.empty[Int, String]
    var unit = 0
    while (out.size < docs) {
      val (lang, _) = Langs(rnd.nextInt(Langs.size))
      val toks = text(lang, 60 + rnd.nextInt(80))
      val r = rnd.nextInt(1000)
      if (r < LowQualityPm) {
        // one rare word repeated: no stopwords, so quality stays under 0.3
        kind(unit) = "low_quality"
        val w = vocab(lang)(Common + rnd.nextInt(100))
        out += ((Seq.fill(3 + rnd.nextInt(6))(w).mkString(" "), lang, unit))
      } else if (r < LowQualityPm + ExactGroupPm) {
        kind(unit) = "exact"
        (0 to 1 + rnd.nextInt(2)).foreach(_ => out += ((toks.mkString(" "), lang, unit)))
      } else if (r < LowQualityPm + ExactGroupPm + ClusterPm) {
        kind(unit) = "cluster"
        out += ((toks.mkString(" "), lang, unit))
        (0 to 1 + rnd.nextInt(2)).foreach { _ =>
          val v = toks.toArray
          (0 to rnd.nextInt(2)).foreach { _ =>
            val i = rnd.nextInt(v.length)
            var w = v(i)
            while (w == v(i)) w = vocab(lang)(rnd.nextInt(Vocab))
            v(i) = w
          }
          out += ((v.mkString(" "), lang, unit))
        }
      } else {
        kind(unit) = "distinct"
        out += ((toks.mkString(" "), lang, unit))
      }
      unit += 1
    }
    // ids are a seeded permutation, so survivor ids carry no position signal
    val ids = (1L to out.size.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val rows = out.indices.map(i => (ids(i), out(i)._1, out(i)._2))
    (rows, CorpusTruth(out.size, out.indices.map(i => ids(i) -> out(i)._3).toMap, kind.toMap))
  }
}

/** LLM corpus curation: `Pipelines.curate` from a parquet corpus to a
  * parquet survivor set. Quality scoring, exact dedup, MinHash-LSH and
  * connected components do the work, with Blocks' cuts between them; the
  * star builders and the CSV sink do none.
  */
final class LlmCurate(spark: SparkSession, s: Settings) extends Workload {
  private val Docs = 10000
  /** Share of a planted cluster's redundant members that must be removed.
    * MinHash-LSH with 4 bands of 4 rows finds a pair at Jaccard 0.8 with
    * probability 0.89, and components join a cluster through any pair.
    */
  private val ClusterRecallFloor = 0.9
  private val MinQuality = 0.3
  private val Jaccard = 0.4

  private val input = s.work.resolve("corpus.parquet")
  private var truth: CorpusTruth = _
  private var lastRecall = 0.0
  private var lastPairs = 0L
  private var lastSurvivors = 0L
  /** Survivor ids of the last untraced pass; a traced pass must match them. */
  private var curated: Set[Long] = Set.empty

  def rowsPerOp: Long = Docs
  def opsPerPass: Int = 1

  def setup(): Unit = {
    val (rows, t) = CorpusGen.generate(Docs, s.seed)
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType)))
    spark.createDataFrame(rows.map { case (i, txt, l) => Row(i, txt, l) }.asJava, schema)
      .repartition(s.cores)
      .write.mode("overwrite").parquet(input.toString)
    truth = t
  }

  def warmUpOps: Int = 4

  def op(tracer: Option[Tracer]): Op = {
    val out = s.work.resolve("survivors.parquet")
    Dirs.deleteTree(out)
    val t0 = System.nanoTime()
    tracer match {
      case None =>
        Pipelines.curate(spark.read.parquet(input.toString), "id", "text",
          minQuality = MinQuality, jaccardThreshold = Jaccard)
          .write.parquet(out.toString)
      case Some(t) => t.span("llm_curate.pass")(tracedPass(t, out))
    }
    val ns = System.nanoTime() - t0
    Blocks.sweep(spark.sparkContext)
    Op(ns, check(out, traced = tracer.isDefined))
  }

  /** `Pipelines.curate`'s stages called one by one, as curate composes
    * them, each materialized inside its own span. Its survivors must equal
    * those of the untraced passes, which call curate itself.
    */
  private def tracedPass(t: Tracer, out: Path): Unit = {
    val survivors = t.span("pipelines.curate") {
      val docs = spark.read.parquet(input.toString)
      val kept = t.span("operators.quality")(t.pin(
        TextAnalysis.qualityScore(docs, "id", "text", carry = Seq("text"))
          .filter(col("quality") >= MinQuality)
          .select(col("id"), col("text"))))
      val exact = t.span("operators.exact_dedup")(
        Blocks.cut(Dedup.exact(kept, Seq("text"), Seq(col("id")))))
      // minhashLsh returns a materialized (checkpointed) frame
      val pairs = t.span("operators.minhash")(
        Dedup.minhashLsh(exact, "id", "text", jaccardThreshold = Jaccard).select("id1", "id2"))
      lastPairs = pairs.count()
      val comps = t.span("operators.components")(t.pin(
        Components.minLabelAdaptive(pairs, "id1", "id2", exact.select("id"), "id")))
      kept.unpersist()
      exact.join(comps.filter(col("id") === col("comp")).select(col("id")), "id")
    }
    t.span("sources.parquet_write")(survivors.write.parquet(out.toString))
    spark.catalog.clearCache()
  }

  /** Exact duplicates gone, clusters collapsed at or above the recall
    * floor, no two distinct units merged, low-quality documents dropped.
    */
  private def check(out: Path, traced: Boolean): Boolean = {
    val rows = spark.read.parquet(out.toString).select("id", "text").collect()
    val ids = rows.map(_.getLong(0)).toSet
    val kept = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
    rows.foreach(r => kept(truth.unitOf(r.getLong(0))) += 1)
    val size = truth.unitOf.values.groupBy(identity).map { case (u, m) => u -> m.size }
    val errors = Seq.newBuilder[String]
    if (rows.map(_.getString(1)).distinct.length != rows.length)
      errors += "two survivors share a text"
    var redundant = 0
    var removed = 0
    truth.kind.foreach { case (u, k) =>
      val n = kept(u)
      k match {
        case "low_quality" if n != 0 => errors += s"low-quality unit $u kept"
        case "exact" | "distinct" if n != 1 => errors += s"$k unit $u kept $n times"
        case "cluster" =>
          if (n < 1) errors += s"cluster $u merged away"
          redundant += size(u) - 1
          removed += size(u) - n
        case _ => ()
      }
    }
    lastRecall = if (redundant == 0) 1.0 else removed.toDouble / redundant
    if (lastRecall < ClusterRecallFloor)
      errors += f"cluster recall $lastRecall%.4f below $ClusterRecallFloor"
    lastSurvivors = rows.length
    if (!traced) curated = ids
    else if (ids != curated) errors += "traced stages kept other documents than curate"
    val errs = errors.result()
    errs.take(5).foreach(e => System.err.println(s"llm_curate check: $e"))
    errs.isEmpty
  }

  def finalChecks(): Seq[(String, Boolean)] = Nil

  def layerExtras(): Map[String, Double] = Map(
    "operators.nd_pairs" -> lastPairs.toDouble,
    "operators.survivor_ratio" -> lastSurvivors.toDouble / truth.docs)

  def close(): Unit = println(f"llm_curate: cluster recall $lastRecall%.4f, " +
    s"$lastSurvivors survivors of ${truth.docs} documents")
}
