package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.sql.Date
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Ids
import graft.star.{CalendarDim, StarSchemaJob}

/** The star's CSV boundary: `StarSchemaJob.readSource` takes its header
  * on the driver, `writeCsv` formats a local table on the driver and
  * joins a parallel write's part files, `CalendarDim.overRange` is local
  * under the gate. Each must give what Spark itself gives.
  */
class StarIoSpec extends SparkSpec {
  import spark.implicits._

  private val Latin1 = Charset.forName("ISO-8859-1")

  /** The number of Spark jobs `body` starts, and its result. */
  private def jobsOf[T](body: => T): (Int, T) = {
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftTestCoreBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftTestCoreBridge.drainListeners(sc)
      (jobs.get, out)
    } finally sc.removeSparkListener(listener)
  }

  private def tmp(name: String): String = Files.createTempDirectory(name).resolve("t").toString

  /** The bytes of the one part file under `dir`; `dir` holds nothing else
    * visible but `_SUCCESS`.
    */
  private def partBytes(dir: String): Array[Byte] = {
    val names = Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.startsWith(".")).toSeq.sorted
    assert(names.size == 2 && names(0) == "_SUCCESS" && names(1).startsWith("part-00000-") &&
      names(1).endsWith("-c000.csv"), names)
    Files.readAllBytes(Paths.get(dir, names(1)))
  }

  /** What the single-file Spark sink writes for `df`. */
  private def coalesced(df: DataFrame): Array[Byte] = {
    val dir = tmp("graft-coalesced")
    df.coalesce(1).write.mode("overwrite").option("sep", ";").option("header", "true")
      .option("encoding", "ISO-8859-1").csv(dir)
    partBytes(dir)
  }

  private def written(df: DataFrame): Array[Byte] = {
    val dir = tmp("graft-writecsv")
    StarSchemaJob.writeCsv(df, dir)
    partBytes(dir)
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean = a.sameElements(b)

  test("writeCsv: a local relation is formatted on the driver with Spark's bytes") {
    val schema = StructType(Seq(
      StructField("Nome; \"citado\"", StringType), StructField("Dia", DateType),
      StructField("Total", LongType), StructField("Medida", DoubleType),
      StructField("Chave", IntegerType, nullable = false)))
    val rows = Seq(
      Row("a;b", Date.valueOf("2019-03-15"), 1L, 1.5, 1),
      Row("aspas \"dentro\"", Date.valueOf("1960-01-01"), -42L, -0.0, 2),
      Row("  espaços nas pontas  ", null, Long.MaxValue, null, 3),
      Row("Três Marias, São João", Date.valueOf("2024-12-31"), null, 1e300, 4),
      Row(null, Date.valueOf("0999-06-30"), 0L, Double.NaN, 5),
      Row("", Date.valueOf("2000-02-29"), Long.MinValue, 0.1, 6),
      Row("fora do latin-1: € 日", null, 7L, 2.5e-7, 7),
      Row("linha\nquebrada\r\n;", Date.valueOf("2021-07-04"), 8L, 3.0, 8))
    val df = spark.createDataFrame(rows.asJava, schema)
    assert(df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    val (jobs, bytes) = jobsOf(written(df))
    assert(jobs == 0)
    assert(sameBytes(bytes, coalesced(df)))
    // an empty local relation: the header only
    val empty = spark.createDataFrame(Seq.empty[Row].asJava, schema)
    assert(sameBytes(written(empty), coalesced(empty)))
  }

  test("writeCsv: partitions written in parallel join into coalesce(1)'s bytes") {
    // four partitions, the second one empty
    val df = spark.range(0, 12, 1, 4).filter(!$"id".between(3, 5))
      .select($"id", format_string("v;%d \"q\" ação", $"id").as("s"),
        when($"id" % 4 === 0, lit(null)).otherwise($"id" / 3).as("x"))
    assert(df.rdd.getNumPartitions == 4)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().toSeq == Seq(3, 0, 3, 3))
    val (jobs, bytes) = jobsOf(written(df))
    assert(jobs == 1)
    assert(sameBytes(bytes, coalesced(df)))
    // every partition empty: the header only
    val none = spark.range(0, 12, 1, 3).filter($"id" < 0).toDF()
    assert(none.rdd.getNumPartitions == 3)
    assert(sameBytes(written(none), coalesced(none)))
  }

  test("writeCsv: the star's fact over a scan forced into splits == coalesce(1)'s bytes") {
    val header = StarSchemaJob.SourceColumns.mkString(";")
    val lines = (0 until 3000).map { i =>
      s"UHE;Hídrica;Potencial hidráulico;Operação;Concessão;${if (i % 7 == 0) "" else "S"};MG;" +
        s"Cidade ${i % 13};CEG${i % 101};Usina $i;Privado;2019-03-${10 + i % 18}T00:00:00;" +
        s"${i}.234,56;${i % 3},5;$i"
    }
    val in = Files.createTempDirectory("graft-split").resolve("in.csv")
    Files.write(in, (header +: lines).mkString("\n").getBytes(Latin1))
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "32768",
        "spark.sql.files.openCostInBytes" -> "0") {
      val fato = StarSchemaJob.formatFactForCsv(
        StarSchemaJob.build(StarSchemaJob.readSource(spark, in.toString)).fato)
      assert(fato.rdd.getNumPartitions >= 3, fato.rdd.getNumPartitions)
      assert(sameBytes(written(fato), coalesced(fato)))
    }
  }

  test("readSource: the header Spark infers, read without a job, from a file and a table") {
    val options = Map("sep" -> ";", "header" -> "true", "encoding" -> "ISO-8859-1",
      "ignoreLeadingWhiteSpace" -> "true", "ignoreTrailingWhiteSpace" -> "true")
    def inferred(path: String) = spark.read.options(options).csv(path)
    val file = Files.createTempDirectory("graft-header").resolve("in.csv")
    Files.write(file, Seq(
      "   ",
      "  Código ; \"Nome; com aspas\" ;\" Espaço \";Código;;\"x\"\"y\"  ",
      "a;b;c;d;e;f",
      " 1 ; \"2;3\" ; 4;5;;6").mkString("\r\n").getBytes(Latin1))
    val table = tmp("graft-header-table")
    StarSchemaJob.writeCsv(Seq(("Três", 1L), ("a;b", 2L)).toDF("Município", "N"), table)
    for (path <- Seq(file.toString, table)) {
      val (jobs, got) = jobsOf(StarSchemaJob.readSource(spark, path))
      assert(jobs == 0, path)
      val want = inferred(path)
      assert(got.schema == want.schema, path)
      assert(got.collect().toSeq == want.collect().toSeq, path)
    }
  }

  test("overRange: local under the gate, the distributed calendar past it") {
    def tvf(lo: String, hi: String) = spark.sql(s"SELECT * FROM graft_calendar('$lo', '$hi')")
    def same(a: DataFrame, b: DataFrame) =
      a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val (lo, hi) = ("1999-12-25", "2030-03-01")
    val small = CalendarDim.overRange(spark, lo, hi)
    assert(small.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(same(small, tvf(lo, hi)))
    assert(same(small, CalendarDim.build(spark.range(1)
      .select(lit(lo).cast("date").as("lo"), lit(hi).cast("date").as("hi")))))
    val far = java.time.LocalDate.parse(lo).plusDays(Ids.SmallBatchKeys).toString
    val big = CalendarDim.overRange(spark, lo, far)
    assert(!big.queryExecution.optimizedPlan.isInstanceOf[LocalRelation])
    assert(big.count() == Ids.SmallBatchKeys + 1)
    assert(same(big, tvf(lo, far)))
    assert(CalendarDim.overRange(spark, null, null).count() == 0)
  }
}
