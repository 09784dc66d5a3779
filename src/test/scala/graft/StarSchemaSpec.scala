package graft

import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.GraftTestCoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.FkProbe
import graft.star.{AneelFixture, Dims, StarSchemaJob}

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
    // the probe's two jobs, the fact's write and the first-wins dim's two
    assert(started.size == 5, started)
    assert(started.values.forall(_ == "star-run-group"), started)
  }

  test("run: a failing sink makes run throw only once no job of the call runs") {
    // A plain file at the table path itself would just be deleted by the
    // overwrite; a link whose target lies under a plain file cannot be
    // cleared or created, so only dim_geracao's write fails. It fails on
    // the driver, where the table is formatted, while the fact's single
    // task over 20k rows still runs.
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

  test("probe: a dim its capped collect cut off is ranked, not numbered from the cut") {
    // dims are collected in descending grouping-id order, here the big dim
    // "a" first: its 2 * (SmallBatchKeys + 1) + 1 keys fill the cap, so
    // the small dim "b" never reaches the driver
    val n = 2 * (graft.operators.Ids.SmallBatchKeys + 1) + 1
    val df = spark.range(n).select(format_string("a%07d", $"id").as("a"),
      ($"id" % 5).cast("string").as("b"))
    val (Seq(b, a), range) = Dims.probe(df, Seq("sb" -> Seq("b"), "sa" -> Seq("a")), None)
    assert(range.isEmpty)
    def oracle(c: String) = df.select(c).distinct()
      .withColumn("sk", row_number().over(Window.orderBy(col(c))).cast("long"))
    for ((got, sk, c) <- Seq((b, "sb", "b"), (a, "sa", "a"))) {
      val want = oracle(c).select(col("sk").as(sk), col(c))
      assert(got.count() == want.count(), c)
      assert(got.select(sk, c).exceptAll(want).isEmpty, c)
    }
  }

  /** Table -> bytes of its single part file, for each of the six tables
    * `run` wrote under `out`.
    */
  private def tableBytes(out: String): Map[String, Array[Byte]] =
    Seq("dim_geracao", "dim_status", "dim_localizacao", "dim_empreendimento",
        "dim_tempo", "fato_geracao").map { t =>
      val parts = Files.list(Paths.get(out, t)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      assert(parts.size == 1, s"$t holds ${parts.size} part- files")
      t -> Files.readAllBytes(parts.head)
    }.toMap

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map("%02x".format(_)).mkString

  test("run: the six files are byte-identical at shuffle partitions 1 and 7") {
    // 600 rows over 150 CodCEGs, several names per code: enough keys that
    // seven hash partitions do not come out in CodCEG order by chance
    val in = Files.createTempDirectory("graft-aneel-order").resolve("in.csv")
    val lines = (0 until 600).map { i =>
      val r = rows(i % rows.size).split(";", -1)
      r(8) = f"CEG${(i * 37) % 150}%04d"
      r(9) = s"Usina ${(i * 13) % 7}"
      r.mkString(";")
    }
    Files.write(in, (header +: lines).mkString("\n").getBytes(Charset.forName("ISO-8859-1")))
    def runAt(partitions: Int): Map[String, Array[Byte]] = {
      val out = Files.createTempDirectory(s"graft-star-p$partitions").toString
      withSQLConf("spark.sql.adaptive.enabled" -> "false",
          "spark.sql.shuffle.partitions" -> partitions.toString) {
        StarSchemaJob.run(spark, in.toString, out)
      }
      tableBytes(out)
    }
    val (one, seven) = (runAt(1), runAt(7))
    one.foreach { case (t, bytes) =>
      assert(bytes.sameElements(seven(t)), s"$t differs between 1 and 7 shuffle partitions")
    }
  }

  test("run on AneelFixture: sha256 of the six files == the checked-in digests") {
    val out = Files.createTempDirectory("graft-star-digest").toString
    StarSchemaJob.run(spark, AneelFixture.ensure(), out)
    val want = scala.io.Source.fromResource("graft/star/aneel_fixture.sha256")
      .getLines().filter(_.nonEmpty).map { l =>
        val Array(digest, table) = l.split("\\s+")
        table -> digest
      }.toMap
    assert(tableBytes(out).map { case (t, b) => t -> sha256(b) } == want)
  }

  test("build: a missing or renamed reference column fails naming it, before any job") {
    val src = StarSchemaJob.readSource(spark, input.toString)
    for ((broken, named) <- Seq(
        src.drop("CodCEG") -> "CodCEG",
        src.withColumnRenamed("DscMuninicpios", "DscMunicipios") -> "DscMuninicpios")) {
      val (result, started, _) = underGroup("star-contract") { StarSchemaJob.build(broken) }
      val e = intercept[IllegalArgumentException](result.toTry.get)
      assert(e.getMessage.contains(s"no column $named"), e.getMessage)
      assert(started.isEmpty, started)
    }
  }

  test("run on AneelFixture: 5 jobs") {
    // the dim probe's two (with AQE on: the aggregate's shuffle and the
    // ordered collect), the fact's write, and the first-wins dim's shuffle
    // and write. The header is read on the driver and the four local
    // tables are formatted there. With a header job, a source cache and a
    // job per sink it was 11; with a probe per dim, a calendar range job
    // and a broadcast job per FK before that, 19.
    val out = Files.createTempDirectory("graft-star-jobs").toString
    val in = AneelFixture.ensure()
    val (result, started, _) = underGroup("star-jobs") {
      StarSchemaJob.run(spark, in, out)
    }
    assert(result.isRight, result)
    assert(started.size == 5, s"${started.size} jobs")
  }

  test("fact: no broadcast exchange and no join when every dim is under the gate") {
    val built = StarSchemaJob.build(StarSchemaJob.readSource(spark, input.toString))
    built.fato.collect()
    val plan = built.fato.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"), plan)
  }

  test("a dim past the gate: the fact equals the broadcast-join result") {
    // DscMuninicpios takes SmallBatchKeys + 1 distinct values, so
    // dim_localizacao is ranked distributed and joined; the other two dims
    // stay local and are probed in-task
    val n = graft.operators.Ids.SmallBatchKeys + 1
    val base = StarSchemaJob.readSource(spark, input.toString).cache()
    val src = spark.range(n).crossJoin(base.limit(1))
      .withColumn("DscMuninicpios", format_string("Cidade %06d", $"id"))
      .withColumn("SigUFPrincipal", when($"id" % 3 === 0, lit(null)).otherwise(lit("MG")))
      .withColumn("DscFaseUsina", when($"id" % 5 === 0, lit(null)).otherwise($"DscFaseUsina"))
      .drop("id")
      .unionByName(base)
      // cached, as a scanned source is one relation: over an uncached
      // union the optimizer copies the fact's projection, probes
      // included, into each branch
      .cache()
    val built = StarSchemaJob.build(src)
    try {
      assert(built.dimLocalizacao.count() == n + 3)
      val norm = src.withColumn("IdcGeracaoQualificada",
        graft.functions.naIfEmpty($"IdcGeracaoQualificada"))
      def joined(d: org.apache.spark.sql.DataFrame, sk: String, keys: Seq[String]) =
        (f: org.apache.spark.sql.DataFrame) => {
          val b = d.select(col(sk).as(s"j_$sk") +: keys.map(k => col(k).as(s"j_$k")): _*)
          f.join(broadcast(b), keys.map(k => f(k) <=> b(s"j_$k")).reduce(_ && _), "left")
            .withColumn(sk, coalesce(col(s"j_$sk"), lit(-1L)))
        }
      val oracle = Seq(
          joined(built.dimGeracao, "ID_Geracao",
            Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel")),
          joined(built.dimStatus, "ID_Status",
            Seq("DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada")),
          joined(built.dimLocalizacao, "ID_Localizacao", Seq("SigUFPrincipal", "DscMuninicpios")))
        .foldLeft(norm)((f, j) => j(f))
        .select($"ID_Geracao", $"ID_Status", $"ID_Localizacao", $"CodCEG",
          graft.functions.parseDateKey($"DatEntradaOperacao"))
      val got = built.fato.select($"ID_Geracao", $"ID_Status", $"ID_Localizacao", $"CodCEG",
        $"FK_DataOperacao")
      assert(got.exceptAll(oracle).isEmpty && oracle.exceptAll(got).isEmpty)
      assert(got.filter($"ID_Localizacao" === -1 || $"ID_Status" === -1).isEmpty)
      val probes = got.queryExecution.optimizedPlan.collect { case p =>
        p.expressions.flatMap(_.collect { case f: FkProbe => f }) }.flatten
      assert(probes.size == 2, got.queryExecution.optimizedPlan)
    } finally {
      src.unpersist()
      base.unpersist()
    }
  }

  test("no dim of a built star is backed by an RDD") {
    val built = StarSchemaJob.build(StarSchemaJob.readSource(spark, input.toString))
    Seq(built.dimGeracao, built.dimStatus, built.dimLocalizacao,
      built.dimEmpreendimento, built.dimTempo).foreach { d =>
      assert(!d.queryExecution.analyzed.toString.contains("LogicalRDD"),
        d.queryExecution.analyzed.toString)
    }
  }
}
