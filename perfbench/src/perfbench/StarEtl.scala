package perfbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.star.StarSchemaJob

/** Ground truth of one generated ANEEL CSV. `dims` holds the expected
  * row count of each dimension table; the fact has `rows` rows, of which
  * `badDates` carry a date that must map to the 0 key. Every attribute
  * combination exists in its dimension, so no fact row takes the -1 key.
  * `measureCents` are the exact sums of the three measures, in cents.
  */
final case class StarTruth(rows: Long, dims: Map[String, Long], badDates: Long,
                           measureCents: Seq[Long])

/** Seeded ANEEL-shaped CSV: ISO-8859-1, `;`-separated, small dimension
  * cardinalities, a CodCEG pool much smaller than the row count (so codes
  * repeat with differing names), dates spread over decades, and malformed
  * dates, malformed numbers, empty `IdcGeracaoQualificada`, empty UF and
  * padded fields planted at fixed shares.
  */
object StarGen {
  val Header = Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel",
    "DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada", "SigUFPrincipal",
    "DscMuninicpios", "CodCEG", "NomEmpreendimento", "DscPropriRegimePariticipacao",
    "DatEntradaOperacao", "MdaPotenciaOutorgadaKw", "MdaPotenciaFiscalizadaKw",
    "MdaGarantiaFisicaKw").mkString(";")

  private val Geracao = Seq(
    ("UHE", "Hídrica", "Potencial hidráulico"), ("PCH", "Hídrica", "Potencial hidráulico"),
    ("CGH", "Hídrica", "Potencial hidráulico"), ("EOL", "Eólica", "Cinética do vento"),
    ("UFV", "Solar", "Radiação solar"), ("UTE", "Fóssil", "Gás natural"),
    ("UTE", "Fóssil", "Óleo diesel"), ("UTE", "Fóssil", "Carvão mineral"),
    ("UTE", "Biomassa", "Bagaço de cana de açúcar"), ("UTE", "Biomassa", "Resíduos florestais"),
    ("UTE", "Biomassa", "Biogás"), ("UTN", "Nuclear", "Urânio"))
  private val Fases = Seq("Operação", "Construção", "Construção não iniciada")
  private val Outorgas = Seq("Autorização", "Concessão", "Registro")
  private val Ufs = Seq("AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO", "MA", "MT",
    "MS", "MG", "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO", "RR", "SC", "SP",
    "SE", "TO")
  private val Lugares = Seq("São José", "Santa Luzia", "Três Rios", "Itaú", "Pão de Açúcar",
    "Jacareí", "Ribeirão Preto", "Conceição")
  private val Nomes = Seq("Alvorada", "Boa Esperança", "Cachoeira", "Serra Azul",
    "Água Limpa", "Jatobá", "Ipê", "Araucária", "Sertão", "Maracanã")
  private val Regimes = Seq("Autoprodução de Energia", "Produção Independente de Energia",
    "Serviço Público", "Registro")
  private val BadDates = Seq("", "bad-date", "2020", "31/12/2019", "2021-02-30T00:00:00")
  private val BadNumbers = Seq("", "abc", "n/d")
  private val FirstDay = LocalDate.of(1960, 1, 1).toEpochDay
  private val LastDay = LocalDate.of(2024, 12, 31).toEpochDay

  // planted shares, in per mille of rows
  private val EmptyIdcPm = 50
  private val EmptyUfPm = 30
  private val BadDatePm = 20
  private val BadNumberPm = 10
  private val PaddedPm = 10

  /** Brazilian-locale number: thousands dots, decimal comma. */
  def brNumber(cents: Long): String = {
    val int = (cents / 100).toString.reverse.grouped(3).mkString(".").reverse
    f"$int,${cents % 100}%02d"
  }

  def write(path: Path, rows: Int, seed: Long): StarTruth = {
    val rnd = new java.util.SplittableRandom(seed)
    def pm(share: Int) = rnd.nextInt(1000) < share
    def pick[T](xs: Seq[T]) = xs(rnd.nextInt(xs.size))
    val cegPool = math.max(1, rows / 5)
    val geracao = scala.collection.mutable.HashSet.empty[Any]
    val status = scala.collection.mutable.HashSet.empty[Any]
    val local = scala.collection.mutable.HashSet.empty[Any]
    val cegs = new java.util.BitSet(cegPool)
    var minDay = Long.MaxValue
    var maxDay = Long.MinValue
    var badDates = 0L
    val cents = Array(0L, 0L, 0L)
    Files.createDirectories(path.getParent)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(path.toFile), StandardCharsets.ISO_8859_1), 1 << 20)
    try {
      out.write(Header); out.write('\n')
      for (_ <- 0 until rows) {
        val g = pick(Geracao)
        geracao += g
        val fase = pick(Fases)
        val outorga = pick(Outorgas)
        val idc = if (pm(EmptyIdcPm)) "" else pick(Seq("S", "N"))
        status += ((fase, outorga, if (idc.isEmpty) "N/A" else idc))
        val uf = if (pm(EmptyUfPm)) "" else pick(Ufs)
        val mun = s"${pick(Lugares)} ${rnd.nextInt(4) + 1}"
        local += ((uf, mun))
        val ceg = rnd.nextInt(cegPool)
        cegs.set(ceg)
        val date = if (pm(BadDatePm)) { badDates += 1; pick(BadDates) } else {
          val d = FirstDay + rnd.nextLong(LastDay - FirstDay + 1)
          minDay = math.min(minDay, d); maxDay = math.max(maxDay, d)
          s"${LocalDate.ofEpochDay(d)}T${"%02d".format(rnd.nextInt(24))}:00:00"
        }
        val measures = (0 until 3).map { i =>
          if (pm(BadNumberPm)) pick(BadNumbers) else {
            val c = rnd.nextLong(100000000L)
            cents(i) += c
            brNumber(c)
          }
        }
        val origem = if (pm(PaddedPm)) s"  ${g._2} " else g._2
        val fields = Seq(g._1, origem, g._3, fase, outorga, idc, uf, mun,
          f"CEG.$ceg%07d.01", s"Usina ${pick(Nomes)} ${rnd.nextInt(100)}", pick(Regimes),
          date) ++ measures
        out.write(fields.mkString(";")); out.write('\n')
      }
    } finally out.close()
    StarTruth(rows, Map(
      "dim_geracao" -> geracao.size.toLong, "dim_status" -> status.size.toLong,
      "dim_localizacao" -> local.size.toLong, "dim_empreendimento" -> cegs.cardinality().toLong,
      "dim_tempo" -> (if (minDay > maxDay) 0L else maxDay - minDay + 1)),
      badDates, cents.toSeq)
  }
}

/** The reference job at scale: `StarSchemaJob.run` from one ANEEL CSV to
  * six CSVs. The CSV sink, fact formatting, the star builders and the
  * parse helpers do the work; the text and vector operators do none.
  */
final class StarEtl(spark: SparkSession, s: Settings) extends Workload {
  private val Rows = 12000
  private val input = s.work.resolve("aneel.csv")
  private var truth: StarTruth = _

  def rowsPerOp: Long = Rows
  def opsPerPass: Int = 1

  def setup(): Unit = truth = StarGen.write(input, Rows, s.seed)

  def warmUpOps: Int = 4

  def op(tracer: Option[Tracer]): Op = {
    val out = s.work.resolve("star-out")
    Dirs.deleteTree(out)
    val t0 = System.nanoTime()
    tracer match {
      case None => StarSchemaJob.run(spark, input.toString, out.toString)
      case Some(t) => t.span("star_etl.pass")(tracedPass(t, out))
    }
    val ns = System.nanoTime() - t0
    Op(ns, check(out))
  }

  /** The job's own entry points, one span per layer. Each span caches and
    * computes its output, so the next span starts from materialized input.
    */
  private def tracedPass(t: Tracer, out: Path): Unit = {
    val src = t.span("sources.csv_scan")(t.pin(StarSchemaJob.readSource(spark, input.toString)))
    val star = t.span("star.build")(StarSchemaJob.build(src))
    val dims = t.span("star.dims")(Seq(star.dimGeracao, star.dimStatus,
      star.dimLocalizacao, star.dimEmpreendimento).map(t.pin))
    val tempo = t.span("star.calendar")(t.pin(star.dimTempo))
    val fato = t.span("star.fact")(t.pin(star.fato))
    val formatted = t.span("functions.fact_format")(t.pin(StarSchemaJob.formatFactForCsv(fato)))
    t.span("sources.csv_write") {
      Seq("dim_geracao", "dim_status", "dim_localizacao", "dim_empreendimento", "dim_tempo",
        "fato_geracao").zip(dims ++ Seq(tempo, formatted)).foreach { case (name, df) =>
        StarSchemaJob.writeCsv(df, out.resolve(name).toString)
      }
    }
    (Seq(src, tempo, fato, formatted) ++ dims).foreach(_.unpersist())
    star.release()
  }

  /** The rows of every part file of a CSV table written by the job, read
    * without Spark: ISO-8859-1, `;`, one header line per file.
    */
  private def readCsv(dir: Path): (Map[String, Int], Seq[Array[String]]) = {
    val parts = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sorted
    var header = Map.empty[String, Int]
    val rows = parts.flatMap { p =>
      val lines = Files.readAllLines(p, StandardCharsets.ISO_8859_1).asScala
      header = lines.head.split(";", -1).zipWithIndex.toMap
      lines.tail.map(_.split(";", -1).map(_.stripPrefix("\"").stripSuffix("\"")))
    }
    (header, rows)
  }

  /** Row counts of all six tables, dense surrogate keys, sentinel counts
    * and measure sums after the CSV round trip.
    */
  private def check(out: Path): Boolean = {
    val errors = Seq.newBuilder[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) errors += s"$what: got $got, want $want"
    val keys = Map("dim_geracao" -> "ID_Geracao", "dim_status" -> "ID_Status",
      "dim_localizacao" -> "ID_Localizacao", "dim_empreendimento" -> "CodCEG",
      "dim_tempo" -> "ChaveData")
    truth.dims.foreach { case (name, n) =>
      val (h, rows) = readCsv(out.resolve(name))
      val k = rows.map(_(h(keys(name))))
      expect(s"$name rows", rows.size.toLong, n)
      expect(s"$name distinct keys", k.distinct.size.toLong, n)
      if (keys(name).startsWith("ID_"))
        expect(s"$name key range", (k.map(_.toLong).min, k.map(_.toLong).max), (1L, n))
    }
    val (h, fact) = readCsv(out.resolve("fato_geracao"))
    def column(c: String) = fact.map(_(h(c)))
    expect("fact rows", fact.size.toLong, truth.rows)
    expect("fact -1 keys", Seq("ID_Geracao", "ID_Status", "ID_Localizacao")
      .map(c => column(c).count(_ == "-1")), Seq(0, 0, 0))
    expect("fact 0 date keys", column("FK_DataOperacao").count(_ == "0").toLong, truth.badDates)
    expect("measure cents", Seq("MdaPotenciaOutorgadaKw", "MdaPotenciaFiscalizadaKw",
      "MdaGarantiaFisicaKw").map(c => column(c).map(_.replace(",", "").toLong).sum),
      truth.measureCents)
    val errs = errors.result()
    errs.foreach(e => System.err.println(s"star_etl check: $e"))
    errs.isEmpty
  }

  def finalChecks(): Seq[(String, Boolean)] = Nil
  def layerExtras(): Map[String, Double] = Map.empty
  def close(): Unit = ()
}
