package graft.star

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** The reference's complete pipeline, Spark-first: one ANEEL SIGA CSV in,
  * a Kimball star schema out (5 dims + 1 fact) —
  * `/root/reference/src/FullETLGenerator.java:39-55` re-architected.
  *
  * Differences from the reference's execution model, by design:
  *   - ONE logical scan: the reference reads the file twice (pass 1 dims at
  *     :61, pass 2 fact at :142); here `.cache()` + broadcast-join build-side
  *     materialization replaces the second physical scan (SURVEY.md §3.4).
  *   - Surrogate keys by `row_number()` over natural-key order, not
  *     encounter order (parallel-safe, deterministic — SURVEY.md §7.4).
  *   - Distributed throughout: the only data that ever converges on the
  *     driver is the (small) dims — numbered there as local relations
  *     (`Dims.distinctDim`) and broadcast from there into the fact.
  *   - The six table sinks run concurrently (`run`), not one after another.
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
    * `coalesce(1)` mirrors the reference's single-file-per-table output;
    * drop it for genuinely large tables. Blocks until the write job ends;
    * it is safe to call from several threads at once on different `dir`s,
    * which is how `run` writes its six tables.
    */
  def writeCsv(df: DataFrame, dir: String, singleFile: Boolean = true): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write.mode("overwrite")
      .option("sep", ";")
      .option("header", "true")
      .option("encoding", "ISO-8859-1")
      .csv(dir)
  }

  final case class Star(
      dimGeracao: DataFrame,
      dimStatus: DataFrame,
      dimLocalizacao: DataFrame,
      dimEmpreendimento: DataFrame,
      dimTempo: DataFrame,
      fato: DataFrame,
      private val cachedSource: Option[DataFrame]) {
    /** Release the cached source scan. Call once the star's tables are
      * materialized (written, collected, or checkpointed) — leaving it to
      * session end leaks the cache across every subsequent build
      * (round-2 verdict item 2).
      */
    def release(): Unit = cachedSource.foreach(_.unpersist())
  }

  /** Build all six tables from the raw source DataFrame.
    *
    * `cacheSource = true` (the default, right for real inputs) caches the
    * normalized scan so dims and fact share one physical read; the caller
    * MUST `star.release()` once the tables are materialized. Pass `false`
    * for tiny or repeatedly-rebuilt inputs where a second scan is cheaper
    * than a cache entry's lifetime.
    */
  def build(src: DataFrame, cacheSource: Boolean = true): Star = {
    val normalized = src
      .withColumn("IdcGeracaoQualificada", naIfEmpty(col("IdcGeracaoQualificada")))
    val s = if (cacheSource) normalized.cache() else normalized

    val dimGeracao = Dims.distinctDim(s, "ID_Geracao",
      Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel"))
    val dimStatus = Dims.distinctDim(s, "ID_Status",
      Seq("DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada"))
    val dimLocalizacao = Dims.distinctDim(s, "ID_Localizacao",
      Seq("SigUFPrincipal", "DscMuninicpios"))

    // J3 — dim_empreendimento is keyed by the natural CodCEG, no surrogate;
    // first-wins survivor on the attrs (FullETLGenerator.java:114-122).
    // File order isn't observable in a distributed read, so "first" is
    // defined by a stable attribute ordering (SURVEY.md §7.4).
    val dimEmpreendimento = Dims.firstWinsDim(s,
      key = Seq("CodCEG"),
      attrs = Seq("NomEmpreendimento", "DscPropriRegimePariticipacao"),
      order = Seq(col("NomEmpreendimento"), col("DscPropriRegimePariticipacao")))

    val dimTempo = CalendarDim.fromRange(
      s.select(parsePrefixDate(col("DatEntradaOperacao")).as("d")), "d")

    val fact = FactBuilder.resolveAll(s, Seq(
        (dimGeracao, "ID_Geracao",
          Seq("SigTipoGeracao", "DscOrigemCombustivel", "DscFonteCombustivel"), "ID_Geracao"),
        (dimStatus, "ID_Status",
          Seq("DscFaseUsina", "DscTipoOutorga", "IdcGeracaoQualificada"), "ID_Status"),
        (dimLocalizacao, "ID_Localizacao",
          Seq("SigUFPrincipal", "DscMuninicpios"), "ID_Localizacao")))
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

    Star(dimGeracao, dimStatus, dimLocalizacao, dimEmpreendimento, dimTempo, fact,
      if (cacheSource) Some(s) else None)
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
      "dim_empreendimento" -> star.dimEmpreendimento,
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
