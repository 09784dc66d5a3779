package graft.star

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
import graft.functions._
import graft.operators.Ids

/** G1 — calendar dimension generator
  * (`/root/reference/src/FullETLGenerator.java:182-204`).
  *
  * One row per day of the inclusive [min,max] range with the reference's 8
  * derived columns, pt-BR month/weekday names from literal arrays (never
  * `date_format 'MMMM'`, which is JVM-locale-dependent — SURVEY.md §7.4).
  *
  * Generation is `sequence(start, stop, interval 1 day)` + `explode`: the
  * range array is built once per row of a 1-row frame, then exploded into a
  * distributed Dataset ([[build]]); a range known on the driver and at
  * most [[Ids.SmallBatchKeys]] days long is a local relation instead
  * ([[overRange]]). A century of days is ~36k rows — trivially
  * broadcastable; callers join facts to it by the int `ChaveData` key with
  * a broadcast hint.
  */
object CalendarDim {

  /** Build the calendar over the inclusive date range of `dateCol` in `df`
    * — data-driven like the reference (min/max accumulators at
    * FullETLGenerator.java:124-137). Rows with null dates are ignored by
    * min/max; an all-null input yields an empty calendar (the reference
    * skips generation entirely, 132-137).
    */
  def fromRange(df: DataFrame, dateCol: String): DataFrame = {
    val range = df
      .select(to_date(col(dateCol)).as("d"))
      .filter(col("d").isNotNull)
      .agg(min("d").as("lo"), max("d").as("hi"))
      .filter(col("lo").isNotNull)
    build(range)
  }

  /** Build from an explicit 1-row (lo, hi) DataFrame of DateType. */
  def build(range: DataFrame): DataFrame =
    columns(range.select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("d")))

  /** The G1 columns of every day `d` of `days`. */
  private def columns(days: DataFrame): DataFrame =
    days.select(
      dateKeyOf(col("d")).as("ChaveData"),
      col("d").as("DataCompleta"),
      year(col("d")).as("Ano"),
      month(col("d")).as("MesNumero"),
      ptBrMonthName(col("d")).as("NomeMes"),
      dayofmonth(col("d")).as("Dia"),
      ptBrWeekdayName(col("d")).as("DiaDaSemana"),
      quarterLabel(col("d")).as("Trimestre"))

  /** The calendar over the inclusive range [lo, hi] of ISO dates known on
    * the driver (the star's, from [[Dims.probe]]). A null bound — a date
    * column with no non-null value — gives an empty calendar.
    *
    * A range of at most [[Ids.SmallBatchKeys]] days (a century is ~36k)
    * is built on the driver: the optimizer folds the G1 columns of its
    * days into a local relation, so writing it (`StarSchemaJob.writeCsv`)
    * runs no job. A longer range keeps [[build]]'s `sequence`/`explode`
    * plan; either way no job runs until the calendar is used.
    */
  def overRange(spark: SparkSession, lo: String, hi: String): DataFrame = {
    val days =
      if (lo == null || hi == null) 0L
      else ChronoUnit.DAYS.between(LocalDate.parse(lo), LocalDate.parse(hi)) + 1
    require(days >= 0, s"CalendarDim.overRange: lo $lo is after hi $hi")
    if (days <= Ids.SmallBatchKeys) {
      val first = if (days == 0) 0 else LocalDate.parse(lo).toEpochDay.toInt
      val epochDays = (0 until days.toInt).map(i => Row(first + i))
      columns(spark.createDataFrame(epochDays.asJava,
          StructType(Seq(StructField("i", IntegerType, nullable = false))))
        .select(date_from_unix_date(col("i")).as("d")))
    } else
      build(spark.range(0, 1, 1, 1)
        .select(lit(lo).cast("date").as("lo"), lit(hi).cast("date").as("hi")))
  }

  /** Table-valued-function plan: `SELECT * FROM graft_calendar(lo, hi)`
    * in pure SQL — the reference's calendar generator exposed as a
    * relation source (registered by [[graft.GraftExtensions]]).
    *
    * The bounds must be LITERALS (they size the underlying
    * `Range(0, nDays)` before any row exists — same contract as the SQL
    * aggregate constructors in GraftExtensions); everything else is a
    * plain Project of the G1 column expressions over the distributed
    * Range, so the TVF parallelizes like any scan — no driver-side row
    * materialization, a century is ~36k rows across the default
    * parallelism.
    */
  def tvfPlan(args: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    import org.apache.spark.sql.catalyst.plans.logical.{Project, Range => LRange}
    import org.apache.spark.sql.types.{DateType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    require(args.length == 2,
      "graft_calendar(lo, hi) takes two literal ISO dates")
    def asDate(e: org.apache.spark.sql.catalyst.expressions.Expression,
               name: String): java.time.LocalDate = e match {
      case Literal(s: UTF8String, StringType) =>
        java.time.LocalDate.parse(s.toString)
      case Literal(d: Integer, DateType) =>
        java.time.LocalDate.ofEpochDay(d.longValue())
      case other => throw new IllegalArgumentException(
        s"graft_calendar: $name must be a literal date or ISO string, got $other")
    }
    val lo = asDate(args(0), "lo")
    val hi = asDate(args(1), "hi")
    val n = java.time.temporal.ChronoUnit.DAYS.between(lo, hi) + 1
    require(n >= 1, s"graft_calendar: lo $lo must be <= hi $hi")
    val range = LRange(0, n, 1, None)
    // catalyst expressions DIRECTLY (a Column's node tree would reach the
    // plan as an opaque ColumnNodeExpression the analyzer never unwraps
    // in a raw logical plan — the Column bridge is for Dataset callers)
    import org.apache.spark.sql.catalyst.expressions.{
      Add, Cast, Coalesce, Concat, CreateArray, DateAdd, DateFormatClass,
      DayOfMonth, DayOfWeek, ElementAt, Month, Quarter, Remainder, Year}
    import org.apache.spark.sql.types.IntegerType
    val d = DateAdd(Literal(lo.toEpochDay.toInt, DateType),
      Cast(range.output.head, IntegerType))
    def str(s: String) = Literal(UTF8String.fromString(s), StringType)
    val chave = Coalesce(Seq(
      Cast(DateFormatClass(d, str("yyyyMMdd")), IntegerType), Literal(0)))
    val nomeMes = ElementAt(
      CreateArray(graft.functions.ptBrMonths.map(str)), Month(d))
    val diaSem = ElementAt(
      CreateArray(graft.functions.ptBrWeekdays.map(str)),
      Add(Remainder(Add(DayOfWeek(d), Literal(5)), Literal(7)), Literal(1)))
    val tri = Concat(Seq(str("T"), Cast(Quarter(d), StringType)))
    val cols: Seq[(org.apache.spark.sql.catalyst.expressions.Expression, String)] =
      Seq(chave -> "ChaveData", d -> "DataCompleta", Year(d) -> "Ano",
        Month(d) -> "MesNumero", nomeMes -> "NomeMes",
        DayOfMonth(d) -> "Dia", diaSem -> "DiaDaSemana", tri -> "Trimestre")
    Project(cols.map { case (e, nm) => Alias(e, nm)() }, range)
  }
}
