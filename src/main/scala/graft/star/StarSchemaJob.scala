package graft.star

import java.io.{BufferedReader, ByteArrayOutputStream, IOException, InputStreamReader,
  OutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.UUID
import java.util.concurrent.{ExecutionException, Executors}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.functions._
import graft.operators.{Dedup, Ids}

/** The reference's complete pipeline, Spark-first: one ANEEL SIGA CSV in,
  * a Kimball star schema out (5 dims + 1 fact) —
  * `/root/reference/src/FullETLGenerator.java:39-55` re-architected.
  *
  * Differences from the reference's execution model, by design:
  *   - Two scans, as the reference's two passes (dims at :61, fact at
  *     :142): one aggregate (`Dims.probe`) reads the source for every
  *     distinct-key dim and the calendar's date range, and the fact's
  *     write reads it again; the first-wins `dim_empreendimento` reads it
  *     in its own shuffle. Nothing is cached: at this grain a cache fill
  *     costs a job and a task, where the second read costs one parse.
  *   - Surrogate keys by `row_number()` over natural-key order, not
  *     encounter order (parallel-safe, deterministic — SURVEY.md §7.4).
  *   - Distributed throughout: the only data that ever converges on the
  *     driver is the (small) dims and the calendar's date range, all from
  *     the one probe. The dims are numbered there as local relations, and
  *     the fact resolves its FKs against them in-task
  *     (`FactBuilder.resolveFk`), so it is one narrow pass over the source.
  *   - The six table sinks run concurrently (`run`), not one after
  *     another. A table the driver already holds (the numbered dims, the
  *     calendar) is formatted there and launches no job (`writeCsv`).
  *
  * `run` therefore launches five Spark jobs: the probe's shuffle and its
  * ordered collect, the fact's write, and the first-wins dim's shuffle and
  * write.
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

  private val ReadOptions = Map("sep" -> ";", "header" -> "true", "encoding" -> "ISO-8859-1",
    "ignoreLeadingWhiteSpace" -> "true", "ignoreTrailingWhiteSpace" -> "true")
  private val WriteOptions = Map("sep" -> ";", "header" -> "true", "encoding" -> "ISO-8859-1")
  private val Latin1 = StandardCharsets.ISO_8859_1

  /** S1 — CSV scan with the reference's format: ISO-8859-1, `;`, header,
    * trimmed fields (FullETLGenerator.java:31-35,61).
    *
    * The header is read on the driver (the first non-blank line of the
    * file, or of a directory's first visible file — every file of a
    * written table carries the same header) and parsed by Spark's own CSV
    * parser under the same options, over a one-line local Dataset, so the
    * scan gets the all-string schema Spark would infer without running a
    * job for it. A path the driver cannot read that way (missing, a glob,
    * compressed, holding partition directories, or with no non-blank
    * line) is left to Spark's inference.
    */
  def readSource(spark: SparkSession, path: String): DataFrame = {
    def reader = spark.read.options(ReadOptions)
    headerLine(spark, path) match {
      case Some(line) =>
        val schema = reader.csv(spark.createDataset(Seq(line))(Encoders.STRING)).schema
        reader.schema(schema).csv(path)
      case None => reader.csv(path)
    }
  }

  /** The line [[readSource]] takes the header from, if the driver can read it. */
  private def headerLine(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val files =
      if (fs.getFileStatus(p).isFile) Seq(p)
      else {
        // Spark's file index skips `_` and `.` names
        val visible = fs.listStatus(p).filterNot { s =>
          val n = s.getPath.getName
          n.startsWith("_") || n.startsWith(".")
        }
        if (visible.exists(_.isDirectory)) Nil
        else visible.map(_.getPath).sortBy(_.getName).toSeq
      }
    val codecs = new CompressionCodecFactory(conf)
    if (files.exists(codecs.getCodec(_) != null)) None
    else files.iterator.flatMap { f =>
      val in = new BufferedReader(new InputStreamReader(fs.open(f), Latin1))
      // Spark takes the first line that is not empty once spaces are trimmed
      try Iterator.continually(in.readLine()).takeWhile(_ != null).find(_.exists(_ != ' '))
      finally in.close()
    }.nextOption()
  }

  /** S2 — CSV sink with the reference's codec (FullETLGenerator.java:36-38):
    * ISO-8859-1, `;`, header, one part file per table as the reference
    * writes one file, left the way `mode("overwrite")` leaves it (the
    * directory replaced, `part-00000-<uuid>-c000.csv`, `_SUCCESS`). The
    * bytes are those `df.coalesce(1).write.csv` writes:
    *   - a frame whose optimized plan is a local relation of at most
    *     [[Ids.SmallBatchKeys]] rows (the numbered dims, the calendar) is
    *     formatted on the driver by Spark's own CSV generator under the
    *     same options; no job runs;
    *   - any other frame is written by one job with all its partitions in
    *     parallel into a hidden staging directory, whose part files are
    *     then joined in partition order with the first header only (one
    *     part is just renamed).
    * A failed write leaves no part file. Blocks until the write ends; it
    * is safe to call from several threads at once on different `dir`s,
    * which is how `run` writes its six tables.
    */
  def writeCsv(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    val out = new Path(dir)
    val fs = out.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(out) && !fs.delete(out, true)) throw new IOException(s"cannot clear $out")
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if l.data.length <= Ids.SmallBatchKeys =>
        publish(fs, out, s"part-00000-${UUID.randomUUID()}-c000.csv")(
          formatCsv(spark, l.schema, l.data, _))
      case _ => writeStaged(df, fs, out)
    }
    fs.create(new Path(out, "_SUCCESS")).close()
  }

  /** Writes `rows` of `schema` to `out` with a header, as Spark's CSV
    * writer does under [[WriteOptions]].
    */
  private def formatCsv(spark: SparkSession, schema: StructType, rows: Iterable[InternalRow],
                        out: OutputStream): Unit = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(WriteOptions, conf.csvColumnPruning, conf.sessionLocalTimeZone,
      conf.columnNameOfCorruptRecord)
    val gen = new UnivocityGenerator(schema, new OutputStreamWriter(out, Latin1), options)
    gen.writeHeaders()
    rows.foreach(gen.write)
    gen.flush()
  }

  /** Creates `out/name` from what `write` puts in a hidden temporary file,
    * renamed only once `write` returns.
    */
  private def publish(fs: FileSystem, out: Path, name: String)(write: OutputStream => Unit): Unit = {
    val tmp = new Path(out, s".$name.inprogress")
    try {
      val o = fs.create(tmp, false)
      try write(o) finally o.close()
      rename(fs, tmp, new Path(out, name))
    } finally fs.delete(tmp, false)
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"cannot rename $from to $to")

  /** A Spark part file name: its partition and its file number in it. */
  private val PartName = "^part-(\\d+)-.+-c(\\d+)\\..+$".r

  /** [[writeCsv]] of a frame the driver does not hold. */
  private def writeStaged(df: DataFrame, fs: FileSystem, out: Path): Unit = {
    val staging = new Path(out, "_staging")
    try {
      df.write.mode("overwrite").options(WriteOptions).csv(staging.toString)
      val parts = fs.listStatus(staging).map(_.getPath).flatMap { p =>
        PartName.findFirstMatchIn(p.getName).map(m => ((m.group(1).toInt, m.group(2).toInt), p))
      }.sortBy(_._1).map(_._2)
      parts match {
        case Array() => throw new IllegalStateException(s"no part file under $staging")
        case Array(one) => rename(fs, one, new Path(out, one.getName))
        case _ =>
          val header = new ByteArrayOutputStream()
          formatCsv(df.sparkSession, df.schema, Nil, header)
          val skip = header.toByteArray
          publish(fs, out, parts.head.getName) { o =>
            parts.zipWithIndex.foreach { case (p, i) =>
              val in = fs.open(p)
              try {
                if (i > 0) {
                  val head = new Array[Byte](skip.length)
                  in.readFully(head)
                  if (!head.sameElements(skip))
                    throw new IllegalStateException(s"$p does not start with the table's header")
                }
                IOUtils.copyBytes(in, o, 1 << 16, false)
              } finally in.close()
            }
          }
      }
    } finally fs.delete(staging, true)
  }

  final case class Star(
      dimGeracao: DataFrame,
      dimStatus: DataFrame,
      dimLocalizacao: DataFrame,
      dimEmpreendimento: DataFrame,
      dimTempo: DataFrame,
      fato: DataFrame) {
    /** Does nothing: [[build]] caches nothing. Kept only for callers
      * written when it cached the source (the benchmark's traced pass),
      * until they drop the call.
      */
    def release(): Unit = ()
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
    * renamed one fails here, naming it, before any job runs. Nothing is
    * cached: the probe aggregate, run here, reads the source for the
    * dims and the calendar's date range; the fact and the first-wins dim
    * read it again when they are written, and run nothing before.
    */
  def build(src: DataFrame): Star = {
    val missing = SourceColumns.filterNot(src.columns.contains)
    require(missing.isEmpty,
      s"StarSchemaJob: the source has no column ${missing.mkString(", ")} " +
        s"(its columns: ${src.columns.mkString(", ")})")
    val s = src
      .withColumn("IdcGeracaoQualificada", naIfEmpty(col("IdcGeracaoQualificada")))

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

    Star(dimGeracao, dimStatus, dimLocalizacao, dimEmpreendimento, dimTempo, fact)
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
    * The six sinks are independent, so they are submitted together, fact
    * first (its formatting is the longest); the dims and the calendar,
    * formatted on the driver, and the first-wins dim's two jobs finish
    * alongside it instead of queueing behind each other. The pool's
    * threads are created here, so every write inherits the caller's Spark
    * local properties (job group, description, scheduler pool). `run`
    * returns only after every sink has finished; the first failure is
    * rethrown then, with the others attached as suppressed.
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
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
    star
  }
}
