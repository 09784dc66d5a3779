package graft.star

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.operators.Dedup

/** The reference's complete pipeline, Spark-first: one ANEEL SIGA CSV in,
  * a Kimball star schema out (5 dims + 1 fact) —
  * `/root/reference/src/FullETLGenerator.java:39-55` re-architected.
  *
  * Differences from the reference's execution model, by design:
  *   - ONE logical scan: the reference reads the file twice (pass 1 dims at
  *     :61, pass 2 fact at :142); here the normalized scan is cached and
  *     every table reads it (SURVEY.md §3.4).
  *   - Surrogate keys by `row_number()` over natural-key order, not
  *     encounter order (parallel-safe, deterministic — SURVEY.md §7.4).
  *   - Distributed throughout: the only data that ever converges on the
  *     driver is the (small) dims and the calendar's date range, all from
  *     one aggregate (`Dims.probe`). The dims are numbered there as local
  *     relations, and the fact resolves its FKs against them in-task
  *     (`FactBuilder.resolveFk`), so it is one narrow pass over the source.
  *   - The six table sinks run concurrently (`run`), not one after another.
  *
  * Row order of every table `run` writes, so its bytes do not depend on
  * the partitioning of the machine that ran it:
  *   - `dim_geracao`, `dim_status`, `dim_localizacao`: by surrogate key;
  *   - `dim_tempo`: by `ChaveData`, i.e. by day;
  *   - `dim_empreendimento`: by `CodCEG`, sorted inside its single write
  *     task;
  *   - `fato_geracao`: source order (its plan is narrow).
  */
object StarSchemaJob {

  /** S1 — CSV scan with the reference's format: ISO-8859-1, `;`, header,
    * trimmed fields (FullETLGenerator.java:31-35,61).
    */
  def readSource(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("sep", ";")
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .option("ignoreLeadingWhiteSpace", "true")
      .option("ignoreTrailingWhiteSpace", "true")
      .csv(path)

  /** S2 — CSV sink with the reference's codec (FullETLGenerator.java:36-38).
    * `coalesce(1)` mirrors the reference's single-file-per-table output:
    * every table is one part file. Blocks until the write job ends;
    * it is safe to call from several threads at once on different `dir`s,
    * which is how `run` writes its six tables.
    */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("sep", ";")
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .csv(dir)

  final case class Star(
      dimGeracao: DataFrame,
      dimStatus: DataFrame,
      dimLocalizacao: DataFrame,
      dimEmpreendimento: DataFrame,
      dimTempo: DataFrame,
      fato: DataFrame,
      private val cachedSource: DataFrame) {
    /** Release the cached source scan. Call once the star's tables are
      * materialized (written, collected, or checkpointed) — leaving it to
      * session end leaks the cache across every subsequent build
      * (round-2 verdict item 2).
      */
    def release(): Unit = cachedSource.unpersist()
  }

  /** The 15 columns of the reference's input header, which [[build]]
    * requires by name.
    */
  val SourceColumns: Seq[String] = Seq("SigTipoGeracao", "DscOrigemCombustivel",
    "DscFonteCombustivel", "DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada",
    "SigUFPrincipal", "DscMuninicpios", "CodCEG", "NomEmpreendimento",
    "DscPropriRegimePariticipacao", "DatEntradaOperacao", "MdaPotenciaOutorgadaKw",
    "MdaPotenciaFiscalizadaKw", "MdaGarantiaFisicaKw")

  private val GeracaoKey = Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel")
  private val StatusKey = Seq("DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada")
  private val LocalizacaoKey = Seq("SigUFPrincipal", "DscMuninicpios")

  /** Build all six tables from the raw source DataFrame.
    *
    * The source must carry every one of [[SourceColumns]]; a missing or
    * renamed one fails here, naming it, before any job runs. The
    * normalized scan is cached so dims and fact share one physical read;
    * the caller MUST `star.release()` once the tables are materialized.
    * The dims and the calendar's date range come from one probe aggregate,
    * run here; the tables themselves run nothing until they are written.
    */
  def build(src: DataFrame): Star = {
    val missing = SourceColumns.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"StarSchemaJob: the source has no column ${missing.mkString(", ")} " +
        s"(its columns: ${src.columns.mkString(", ")})")
    val s = src
      .withColumn("IdcGeracaoQualificada", naIfEmpty(col("IdcGeracaoQualificada")))
      .cache()

    val (Seq(dimGeracao, dimStatus, dimLocalizacao), range) = Dims.probe(s,
      Seq("ID_Geracao" -> GeracaoKey, "ID_Status" -> StatusKey,
        "ID_Localizacao" -> LocalizacaoKey),
      Some(parsePrefixDate(col("DatEntradaOperacao"))))

    // J3 — dim_empreendimento is keyed by the natural CodCEG, no surrogate;
    // first-wins survivor on the attrs (FullETLGenerator.java:114-122).
    // File order isn't observable in a distributed read, so "first" is
    // defined by a stable attribute ordering (SURVEY.md §7.4): rn = 1 per
    // key, one shuffle on CodCEG.
    val dimEmpreendimento = Dedup.exact(
      s.select("CodCEG", "NomEmpreendimento", "DscPropriRegimePariticipacao"),
      Seq("CodCEG"),
      Seq(col("NomEmpreendimento"), col("DscPropriRegimePariticipacao")))

    val (lo, hi) = range.getOrElse((null, null))
    val dimTempo = CalendarDim.overRange(s.sparkSession, lo, hi)

    val fact = FactBuilder.resolveAll(s, Seq(
        (dimGeracao, "ID_Geracao", GeracaoKey, "ID_Geracao"),
        (dimStatus, "ID_Status", StatusKey, "ID_Status"),
        (dimLocalizacao, "ID_Localizacao", LocalizacaoKey, "ID_Localizacao")))
      .select(
        col("ID_Geracao"),
        col("ID_Status"),
        col("ID_Localizacao"),
        col("CodCEG"),
        parseDateKey(col("DatEntradaOperacao")).as("FK_DataOperacao"),
        parseBrDouble(col("MdaPotenciaOutorgadaKw")).as("MdaPotenciaOutorgadaKw"),
        parseBrDouble(col("MdaPotenciaFiscalizadaKw")).as("MdaPotenciaFiscalizadaKw"),
        parseBrDouble(col("MdaGarantiaFisicaKw")).as("MdaGarantiaFisicaKw"),
        lit(1).as("QtdEmpreendimentos"))

    Star(dimGeracao, dimStatus, dimLocalizacao, dimEmpreendimento, dimTempo, fact, s)
  }

  /** F5 at the sink boundary: measures formatted %.2f with decimal comma
    * (FullETLGenerator.java:173-175) — presentation only.
    */
  def formatFactForCsv(fato: DataFrame): DataFrame =
    fato.select(
      col("ID_Geracao"), col("ID_Status"), col("ID_Localizacao"),
      col("CodCEG"), col("FK_DataOperacao"),
      formatDecimalComma(col("MdaPotenciaOutorgadaKw")).as("MdaPotenciaOutorgadaKw"),
      formatDecimalComma(col("MdaPotenciaFiscalizadaKw")).as("MdaPotenciaFiscalizadaKw"),
      formatDecimalComma(col("MdaGarantiaFisicaKw")).as("MdaGarantiaFisicaKw"),
      col("QtdEmpreendimentos"))

  /** End-to-end: CSV in, six CSVs out (the reference's `main`, :39-55).
    *
    * The six sinks are independent jobs, so they are submitted together,
    * fact first (its single formatting task is the longest); the dims and
    * the calendar finish alongside it instead of queueing behind each
    * other. The pool's threads are created here, so every write inherits
    * the caller's Spark local properties (job group, description,
    * scheduler pool). `run` returns only after every sink has finished;
    * the source cache is released then, and the first failure is rethrown
    * with the others attached as suppressed.
    */
  def run(spark: SparkSession, inPath: String, outDir: String): Star = {
    val star = build(readSource(spark, inPath))
    val sinks = Seq(
      "fato_geracao" -> formatFactForCsv(star.fato),
      "dim_geracao" -> star.dimGeracao,
      "dim_status" -> star.dimStatus,
      "dim_localizacao" -> star.dimLocalizacao,
      // CodCEG order, sorted in the single write task (no extra job)
      "dim_empreendimento" -> star.dimEmpreendimento.coalesce(1).sortWithinPartitions("CodCEG"),
      "dim_tempo" -> star.dimTempo)
    val pool = Executors.newFixedThreadPool(sinks.size)
    val failures =
      try {
        sinks.map { case (name, df) =>
          pool.submit(new Runnable { def run(): Unit = writeCsv(df, s"$outDir/$name") })
        }.flatMap { f =>
          try { f.get(); None }
          catch { case e: ExecutionException => Some(e.getCause) }
        }
      } finally pool.shutdown()
    star.release() // every sink has finished; the source cache is dead
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    star
  }
}
