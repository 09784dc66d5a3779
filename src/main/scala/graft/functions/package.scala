package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Core scalar expression library.
  *
  * Re-expresses the reference's scalar helpers
  * (`/root/reference/src/FullETLGenerator.java:206-254`) as pure Catalyst
  * `Column` expressions — zero UDFs, so every function stays inside
  * whole-stage codegen and survives predicate pushdown / constant folding.
  * Coercion semantics (0.0 / null / 0 / "N/A" sentinels) are part of the
  * reference contract and reproduced exactly.
  */
package object functions {

  /** Canonical events-ts contract: normalize a parquet TIMESTAMP(NANOS)
    * column to millisecond-floor TimestampType regardless of the reader's
    * physical representation.
    *
    * Parquet TIMESTAMP(NANOS) has no stable Spark reading: Spark <=4.0
    * with spark.sql.legacy.parquet.nanosAsLong=true delivers a raw int64
    * epoch-ns; Spark 4.1+ ignores that conf and delivers TIMESTAMP_NTZ
    * (round-7 incident — verified with the conf set both at runtime and
    * at session-build time). A 100 TB lake written over years carries
    * BOTH physical types across its files, so the contract is
    * schema-adaptive, never conf-dependent:
    *   - LongType (epoch-ns)  -> timestamp_millis(ns div 1e6) — integer
    *     `div`, not double division: ns epochs exceed 2^53
    *   - TIMESTAMP_NTZ        -> timestamp_millis(unix_micros(cast) div 1e3)
    *     (Graft.tune pins spark.sql.session.timeZone=UTC so the cast is
    *     the identity wall-clock mapping)
    *   - TimestampType        -> same expression; the cast is a no-op
    * The integer millisecond floor matches DuckDB epoch_ms() on either
    * representation, so every oracle stays representation-independent.
    */
  def eventTimeMillis(df: DataFrame, colName: String = "ts"): DataFrame = {
    val norm = df.schema(colName).dataType match {
      case LongType =>
        timestamp_millis(expr(s"`$colName` div 1000000"))
      case TimestampNTZType | TimestampType =>
        timestamp_millis(expr(s"unix_micros(cast(`$colName` as timestamp)) div 1000"))
      case other =>
        throw new IllegalArgumentException(
          s"$colName: unsupported event-time physical type $other " +
            "(expected int64 epoch-ns or timestamp)")
    }
    df.withColumn(colName, norm)
  }

  /** F1 — Brazilian-locale decimal parse (FullETLGenerator.java:232-239).
    * "1.234,56" -> 1234.56; null/empty/malformed -> 0.0.
    * `.` is a thousands separator (stripped), `,` the decimal mark.
    *
    * A guarded cast: defined under BOTH ANSI and legacy cast semantics
    * (ANSI throws on malformed input; the reference requires a silent 0.0
    * — FullETLGenerator.java:237). The guard accepts the
    * Double.parseDouble grammar the reference inherits: optional sign,
    * leading/trailing-dot forms (",5" / "5,"), exponent, f/d suffix,
    * surrounding spaces. Intentionally narrower than Java on
    * "Infinity"/"NaN"/hex-float literals — impossible in a BR-locale
    * numeric field; they parse to 0.0 here. One per-row kernel
    * ([[graft.expressions.BrDouble]], its exact semantics there).
    */
  def parseBrDouble(c: Column): Column = graft.expressions.BrDouble(c)

  /** F2 — prefix date parse (FullETLGenerator.java:241-248).
    * Takes the first 10 chars of an ISO-like timestamp string and parses
    * `yyyy-MM-dd`; null on empty/short/malformed input. Spark's `to_date`
    * already yields null on failure, matching the reference's catch->null.
    */
  def parsePrefixDate(c: Column): Column = {
    val prefix = substring(c, 1, 10)
    // try_to_date: null on malformed input under ANSI mode too, matching
    // the reference's catch -> null (FullETLGenerator.java:246).
    when(prefix.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}$"),
      try_to_date(prefix, "yyyy-MM-dd"))
  }

  /** F3 — date -> int key `yyyyMMdd` (FullETLGenerator.java:250-254).
    * 0 sentinel when the date is null/unparseable.
    */
  def dateKeyOf(d: Column): Column =
    coalesce(date_format(d, "yyyyMMdd").cast("int"), lit(0))

  /** F3 applied to a raw string column (parse then key). */
  def parseDateKey(c: Column): Column = dateKeyOf(parsePrefixDate(c))

  /** P3 — null/empty -> "N/A" default (FullETLGenerator.java:206-209). */
  def naIfEmpty(c: Column): Column =
    coalesce(nullif(trim(c), lit("")), lit("N/A"))

  /** F5 — decimal-comma output format (FullETLGenerator.java:173-175):
    * fixed 2 decimals, `,` decimal separator, NO thousands grouping
    * (Locale.GERMAN "%.2f"). Presentation-layer only; engine-internal
    * types stay double.
    */
  def formatDecimalComma(c: Column): Column =
    translate(format_string("%.2f", c), ".", ",")

  /** F6/P2 — composite `;`-joined key (FullETLGenerator.java:215-230).
    * Kept for byte-exact key reproduction; engine-internal joins use
    * multi-column keys instead (see graft.star.FactBuilder).
    */
  def compositeKey(cols: Column*): Column = concat_ws(";", cols: _*)

  /** G1 — pt-BR month names, 1-indexed via element_at
    * (FullETLGenerator.java:183,197). Literal array, NOT `date_format
    * 'MMMM'`, which is JVM-locale-dependent.
    */
  private[graft] val ptBrMonths = Seq(
    "janeiro", "fevereiro", "março", "abril", "maio", "junho",
    "julho", "agosto", "setembro", "outubro", "novembro", "dezembro")

  /** G1 — pt-BR weekday names indexed by ISO day-of-week 1=Monday..7=Sunday
    * (java.time.DayOfWeek.getDisplayName(TextStyle.FULL, pt-BR), used at
    * FullETLGenerator.java:199).
    */
  private[graft] val ptBrWeekdays = Seq(
    "segunda-feira", "terça-feira", "quarta-feira", "quinta-feira",
    "sexta-feira", "sábado", "domingo")

  def ptBrMonthName(d: Column): Column =
    element_at(array(ptBrMonths.map(lit): _*), month(d))

  def ptBrWeekdayName(d: Column): Column =
    // dayofweek() is 1=Sunday..7=Saturday; remap to ISO 1=Monday..7=Sunday.
    element_at(
      array(ptBrWeekdays.map(lit): _*),
      ((dayofweek(d) + lit(5)) % lit(7)) + lit(1))

  /** G1 — quarter label "T1".."T4" (FullETLGenerator.java:190,200). */
  def quarterLabel(d: Column): Column = concat(lit("T"), quarter(d))

  // ---------------------------------------------------------------------
  // Portable hashing (extension tier).
  //
  // Spark's xxhash64/murmur3 don't exist in other engines, so operators
  // that must be verifiable against an external SQL oracle use this
  // engine-agnostic polynomial hash instead. Operators with no oracle to
  // match use xxhash64 (e.g. graft.operators.Dedup.simhashPairsScalable).
  // ---------------------------------------------------------------------

  /** Large prime modulus for portable polynomial hashing. Small enough
    * that acc*31+char never overflows a signed 64-bit long.
    */
  val HashPrime = 1000000007L

  /** Decimal scale of every score the graded oracles compare: operators
    * round similarities, distances and probabilities to this many
    * places, so rank ties and equality are engine-independent. The
    * oracle SQL in `graft.Queries` writes the same value as a literal 6.
    */
  val ScoreDigits = 6

  /** Portable string hash: left-fold `acc*31 + codepoint(ch) mod p` over
    * the codepoints of `c`. Expressible identically in any engine with a
    * list-reduce (DuckDB `list_reduce`, Trino `reduce`). Unicode-safe:
    * Spark's `ascii()` and DuckDB's `ascii()` both return the full
    * CODEPOINT for multibyte characters (spot-verified on accented latin,
    * CJK, and the euro sign), so non-ASCII corpora hash identically.
    *
    * Evaluates via the native codegen'd expression
    * (graft.expressions.PortablePolyHash — one primitive loop, zero
    * allocation); [[portableStringHashHof]] is the built-in-only
    * reference twin the oracles mirror, test-pinned equal.
    */
  def portableStringHash(c: Column): Column =
    graft.expressions.PortablePolyHash(c)

  /** Reference higher-order formulation of [[portableStringHash]] (what
    * the DuckDB `list_reduce` oracles mirror): interpreted lambda per
    * character — correct, but ~orders slower in hot loops.
    */
  def portableStringHashHof(c: Column): Column =
    aggregate(
      // Spark's split-on-empty-regex emits a trailing "" (Pattern.split
      // with limit -1); strip it so the fold sees exactly the characters.
      filter(split(c, ""), ch => length(ch) > 0),
      lit(7L),
      (acc, ch) => pmod(acc * lit(31L) + ascii(ch), lit(HashPrime)))

  /** Universal-hash family member `(a*x + b) mod p` for MinHash
    * permutations.
    */
  def affineHash(x: Column, a: Long, b: Long): Column =
    pmod(x * lit(a) + lit(b), lit(HashPrime))
}
