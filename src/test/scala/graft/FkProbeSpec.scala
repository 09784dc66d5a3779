package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.star.FactBuilder

/** The in-task FK probe behind `FactBuilder.resolveFk` against the
  * null-safe broadcast join it replaces for local dims.
  */
class FkProbeSpec extends SparkSpec {

  private val keyTexts = Seq[String](null, "", "São Paulo", "Sao Paulo", "Três Rios",
    "😀 emoji", "𝔘𝔫𝔦", "東京", "ação ", " ação")

  /** A fact read through an RDD, so its projection runs in tasks instead of
    * being folded on the driver as a local relation's would.
    */
  private def frame(schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private val factSchema = StructType(Seq(StructField("id", IntegerType, nullable = false),
    StructField("a", StringType), StructField("b", StringType)))

  /** Every (a, b) pair of `keyTexts` (nulls included), plus misses. */
  private lazy val fact: DataFrame = {
    val pairs = for (a <- keyTexts; b <- keyTexts.take(4)) yield (a, b)
    val misses = Seq(("nowhere", null), (null, "nowhere"), ("São Paulo", "São Paulo"))
    frame(factSchema, (pairs ++ misses).zipWithIndex.map { case ((a, b), i) => Row(i, a, b) })
  }

  /** Rows of a dim over every (a, b) pair with a in `keyTexts` and b
    * among its first two, SK type `skType`, numbered in reverse so SKs are
    * not positions.
    */
  private def dimRows(skType: DataType): Seq[Row] = {
    val keys = for (a <- keyTexts; b <- keyTexts.take(2)) yield (a, b)
    keys.zipWithIndex.map { case ((a, b), i) =>
      val sk = keys.size - i
      Row(if (skType == IntegerType) sk else sk.toLong, a, b)
    }
  }

  /** A local dim of `rows`. */
  private def dim(skType: DataType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, StructType(
      StructField("sk", skType, nullable = false) +: factSchema.fields.tail))

  private def dim(skType: DataType): DataFrame = dim(skType, dimRows(skType))

  /** `resolveFk`'s contract as a plain left broadcast join: (id, fk) rows. */
  private def joinOracle(f: DataFrame, d: DataFrame, keys: Seq[String]): Seq[(Int, Any)] = {
    val build = d.select(col("sk") +: keys.map(k => col(k).as(s"d_$k")): _*)
    idFk(f.join(broadcast(build), keys.map(k => f(k) <=> build(s"d_$k")).reduce(_ && _), "left")
      .withColumn("fk", coalesce(col("sk"), lit(-1).cast(d.schema("sk").dataType))))
  }

  private def idFk(df: DataFrame): Seq[(Int, Any)] =
    df.select("id", "fk").collect().map(r => r.getInt(0) -> r.get(1)).toSeq
      .sortBy { case (id, fk) => (id, fk.toString) }

  private def hasJoin(df: DataFrame): Boolean = {
    df.collect()
    df.queryExecution.executedPlan.toString.contains("Join")
  }

  test("probe == null-safe broadcast join: null, accented, non-BMP keys and misses, int and long SKs") {
    for (skType <- Seq(IntegerType, LongType)) {
      val d = dim(skType)
      val got = FactBuilder.resolveFk(fact, d, "sk", Seq("a", "b"), "fk")
      assert(!hasJoin(got), s"$skType: the local dim was joined")
      assert(got.schema("fk").dataType == skType)
      val rows = idFk(got)
      assert(rows == joinOracle(fact, d, Seq("a", "b")), skType)
      // the null pair finds its dim row; every pair whose b lies past the
      // dim's two b values misses
      assert(rows.count(_._2.toString == "-1") == keyTexts.size * 2 + 3)
    }
  }

  test("kernel agrees under forced codegen and interpreted eval") {
    def run(): Seq[(Int, Any)] =
      idFk(FactBuilder.resolveFk(fact, dim(LongType), "sk", Seq("a", "b"), "fk"))
    // no fallback: a kernel whose generated code failed to compile would
    // throw here instead of quietly running interpreted
    val generated = withSQLConf("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(run())
    val interpreted = withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
    assert(generated.nonEmpty && generated == interpreted)
    assert(generated == joinOracle(fact, dim(LongType), Seq("a", "b")))
  }

  test("double keys, repeated dim keys and non-local dims keep the join, with its answers") {
    val ds = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("a", DoubleType)))
    val doubles = frame(ds, Seq(0.0, -0.0, Double.NaN, 1.5, null).zipWithIndex
      .map { case (v, i) => Row(i, v) })
    val dDim = spark.createDataFrame(Seq(Row(1L, 0.0), Row(2L, Double.NaN)).asJava,
      StructType(Seq(StructField("sk", LongType), StructField("a", DoubleType))))
    val repeated = dim(LongType, dimRows(LongType) :+ dimRows(LongType).head)
    val viaRdd = spark.createDataFrame(dim(LongType).rdd, dim(LongType).schema)
    for ((f, d, keys) <- Seq((doubles, dDim, Seq("a")),
        (fact, repeated, Seq("a", "b")), (fact, viaRdd, Seq("a", "b")))) {
      val got = FactBuilder.resolveFk(f, d, "sk", keys, "fk")
      assert(hasJoin(got))
      assert(idFk(got) == joinOracle(f, d, keys))
    }
  }
}
