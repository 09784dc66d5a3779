package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.star.{Dims, StarSchemaJob}

/** End-to-end star-schema test on a synthesized ANEEL-shaped CSV fixture
  * (FIXTURES.md §A): exercises first-wins dedup, survivor determinism,
  * empty IdcGeracaoQualificada, empty/malformed/short dates, BR numbers
  * with thousands dots, multi-quarter calendar span, sentinel semantics.
  */
class StarSchemaSpec extends SparkSpec {
  import spark.implicits._

  private val header =
    "SigTipoGeracao;DscOrigemCombustivel;DscFonteCombustivel;DscFaseUsina;" +
    "DscTipoOutorga;IdcGeracaoQualificada;SigUFPrincipal;DscMuninicpios;CodCEG;" +
    "NomEmpreendimento;DscPropriRegimePariticipacao;DatEntradaOperacao;" +
    "MdaPotenciaOutorgadaKw;MdaPotenciaFiscalizadaKw;MdaGarantiaFisicaKw"

  private val rows = Seq(
    // dup dim keys; CodCEG repeated with DIFFERENT NomEmpreendimento
    "UHE;Hídrica;Potencial hidráulico;Operação;Concessão;S;MG;Três Marias;CEG001;Usina Alpha;Privado;2019-03-15T00:00:00;1.234,56;1.200,00;800,25",
    "UHE;Hídrica;Potencial hidráulico;Operação;Concessão;S;MG;Três Marias;CEG001;Usina Zeta;Privado;2019-06-20T00:00:00;500,00;450,10;300,00",
    // empty IdcGeracaoQualificada -> N/A; malformed date; garbage number
    "EOL;Eólica;Cinética do vento;Construção;Autorização;;BA;Caetité;CEG002;Parque Beta;Público;bad-date;abc;;2.000,00",
    // short date -> null; spans another quarter/year
    "UTE;Fóssil;Gás natural;Operação;Registro;N;SP;Cubatão;CEG003;Term Gama;Privado;2020;10,5;0,0;0,0",
    "UTE;Fóssil;Gás natural;Operação;Registro;N;SP;Cubatão;CEG004;Term Delta;Privado;2020-01-02T12:00:00;99,99;88,88;77,77")

  private lazy val input: Path = {
    val in = Files.createTempDirectory("graft-aneel").resolve("in.csv")
    Files.write(in, (header +: rows).mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
  }
  private lazy val outDir = Files.createTempDirectory("graft-star").toString
  private lazy val star = StarSchemaJob.run(spark, input.toString, outDir)

  /** Runs `body` under job group `group` and returns its outcome with the
    * group each started job carried and the end time of each job of the
    * group, all events drained.
    */
  private def underGroup[T](group: String)(body: => T)
      : (Either[Throwable, T], Map[Int, String], Map[Int, Long]) = {
    val started = new ConcurrentHashMap[Int, String]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(e.jobId,
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .getOrElse("<none>"))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "StarSchemaSpec")
    try {
      val out = try Right(body) catch { case e: Exception => Left(e) }
      GraftTestCoreBridge.drainListeners(sc)
      (out, started.asScala.toMap, ended.asScala.toMap)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("dims dedupe to expected cardinalities with dense SKs") {
    assert(star.dimGeracao.count() == 3)
    assert(star.dimStatus.count() == 3)
    assert(star.dimLocalizacao.count() == 3)
    val sks = star.dimGeracao.select("ID_Geracao").as[Long].collect().sorted
    assert(sks.toSeq == Seq(1L, 2L, 3L))
  }

  test("empty IdcGeracaoQualificada becomes N/A in dim_status") {
    val vals = star.dimStatus.select("IdcGeracaoQualificada").as[String].collect().toSet
    assert(vals == Set("S", "N", "N/A"))
  }

  test("first-wins survivor for dim_empreendimento is deterministic") {
    assert(star.dimEmpreendimento.count() == 4)
    val ceg1 = star.dimEmpreendimento.filter($"CodCEG" === "CEG001")
      .select("NomEmpreendimento").as[String].head()
    assert(ceg1 == "Usina Alpha") // first by stable attr order
  }

  test("calendar spans [min,max] operation dates inclusive with pt-BR names") {
    // valid dates: 2019-03-15 .. 2019-06-20 and 2020-01-02 -> range is min..max
    val n = star.dimTempo.count()
    val expected = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse("2019-03-15"),
      java.time.LocalDate.parse("2020-01-02")) + 1
    assert(n == expected)
    val first = star.dimTempo.orderBy("ChaveData").limit(1)
      .select($"ChaveData", $"NomeMes", $"DiaDaSemana", $"Trimestre")
      .as[(Int, String, String, String)].head()
    assert(first == ((20190315, "março", "sexta-feira", "T1")))
  }

  test("fact preserves grain, sentinels, BR-parsed measures") {
    val f = star.fato.cache()
    assert(f.count() == rows.size) // grain = 1 row per input row
    // no FK misses possible (dims from same file): all FKs > 0
    assert(f.filter($"ID_Geracao" === -1 || $"ID_Status" === -1 || $"ID_Localizacao" === -1).count() == 0)
    val bad = f.filter($"CodCEG" === "CEG002")
      .select($"FK_DataOperacao", $"MdaPotenciaOutorgadaKw", $"MdaPotenciaFiscalizadaKw", $"MdaGarantiaFisicaKw")
      .as[(Int, Double, Double, Double)].head()
    assert(bad == ((0, 0.0, 0.0, 2000.0))) // date 0 sentinel; garbage/empty -> 0.0
    val alpha = f.filter($"CodCEG" === "CEG001" && $"FK_DataOperacao" === 20190315)
    assert(alpha.select($"MdaPotenciaOutorgadaKw").as[Double].head() == 1234.56)
  }

  test("fact-dim referential integrity") {
    val orphans = star.fato.join(star.dimGeracao, Seq("ID_Geracao"), "left_anti").count()
    assert(orphans == 0)
  }

  test("CSV outputs written with decimal-comma measures") {
    val fatoCsv = spark.read.option("sep", ";").option("header", "true")
      .option("encoding", "ISO-8859-1").csv(s"$outDir/fato_geracao")
    val m = fatoCsv.filter($"CodCEG" === "CEG001" && $"MdaPotenciaOutorgadaKw" === "1234,56").count()
    assert(m == 1)
  }

  test("each of the six table directories holds exactly one part- file") {
    star
    Seq("dim_geracao", "dim_status", "dim_localizacao", "dim_empreendimento",
        "dim_tempo", "fato_geracao").foreach { t =>
      val parts = Files.list(Paths.get(outDir, t)).iterator().asScala
        .count(_.getFileName.toString.startsWith("part-"))
      assert(parts == 1, s"$t holds $parts part- files")
    }
  }

  test("run: every job it launches carries the caller's job group") {
    val out = Files.createTempDirectory("graft-star-group").toString
    val (result, started, _) = underGroup("star-run-group") {
      StarSchemaJob.run(spark, input.toString, out)
    }
    assert(result.isRight, result)
    // six sinks plus the build's collects
    assert(started.size > 6, started)
    assert(started.values.forall(_ == "star-run-group"), started)
  }

  test("run: a failing sink makes run throw only once no job of the call runs") {
    // A plain file at the table path itself would just be deleted by the
    // overwrite; a link whose target lies under a plain file cannot be
    // cleared or created, so only dim_geracao's write fails. It fails in
    // its first task, while the fact's single task over 20k rows still runs.
    val out = Files.createTempDirectory("graft-star-fail")
    val blocker = Files.write(out.resolve("blocker"), "a plain file".getBytes("UTF-8"))
    Files.createSymbolicLink(out.resolve("dim_geracao"), blocker.resolve("dim_geracao"))
    val in = Files.createTempDirectory("graft-aneel-20k").resolve("in.csv")
    Files.write(in, (header +: Seq.fill(4000)(rows).flatten).mkString("\n")
      .getBytes(Charset.forName("ISO-8859-1")))
    var thrownAt = 0L
    val (result, started, ended) = underGroup("star-run-fail") {
      try StarSchemaJob.run(spark, in.toString, out.toString)
      finally thrownAt = System.currentTimeMillis()
    }
    assert(result.isLeft, "run returned although one sink could not write")
    assert(started.nonEmpty)
    assert(started.keySet == ended.keySet, s"jobs never ended: ${started.keySet -- ended.keySet}")
    assert(ended.values.forall(_ <= thrownAt))
  }

  test("distinctDim: local and distributed SKs agree on null and accented keys") {
    val df = Seq[(String, String)](
      ("Hídrica", "São Paulo"), ("Hidrica", null), (null, "Três Rios"), (null, null),
      ("Eólica", "Conceição"), ("Hídrica", "São Paulo"), ("Eólica", null),
      ("", "Ábaco"), ("Zeta", "ação"), (null, null)).toDF("a", "b")
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.select("sk", "a", "b").as[(Long, String, String)].collect().sortBy(_._1).toSeq
    def oracle(d: org.apache.spark.sql.DataFrame) = rowsOf(d.distinct()
      .withColumn("sk", row_number().over(Window.orderBy($"a", $"b")).cast("long")))
    assert(rowsOf(Dims.distinctDim(df, "sk", Seq("a", "b"))) == oracle(df))
    // the same keys plus SmallBatchKeys distinct fillers: past the gate,
    // so the SKs come from the distributed struct rank
    val big = df.unionByName(spark.range(0, graft.operators.Ids.SmallBatchKeys)
      .select(format_string("k%06d", $"id").as("a"), lit("Ábaco").as("b")))
    val dist = rowsOf(Dims.distinctDim(big, "sk", Seq("a", "b")))
    assert(dist.length == graft.operators.Ids.SmallBatchKeys + 8)
    assert(dist == oracle(big))
  }

  test("no dim of a built star is backed by an RDD") {
    val built = StarSchemaJob.build(StarSchemaJob.readSource(spark, input.toString))
    try {
      Seq(built.dimGeracao, built.dimStatus, built.dimLocalizacao,
        built.dimEmpreendimento, built.dimTempo).foreach { d =>
        assert(!d.queryExecution.analyzed.toString.contains("LogicalRDD"),
          d.queryExecution.analyzed.toString)
      }
    } finally built.release()
  }
}
