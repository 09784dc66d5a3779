package graft.expressions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** F1 — the Brazilian-locale number parse (FullETLGenerator.java:232-239)
  * as one pass over the string's bytes: "1.234,56" -> 1234.56, null,
  * empty or malformed -> 0.0.
  *
  * WHY a custom Expression: the Column formulation
  * (`when(trim(translate(s, ",.", ".")).rlike(guard),
  * regexp_replace(.., "[fFdD]$", "").cast("double")).otherwise(0.0)`)
  * runs a translate, a trim, a regex match and a regex replace per row
  * before the cast; this is one loop and the same final cast.
  *
  * The result equals that formulation bit for bit (test-pinned):
  *   - a null string gives 0.0, as the `when` falls to `otherwise`, so
  *     the expression overrides `eval`, not `nullSafeEval`;
  *   - `.` is dropped and `,` becomes `.`, then spaces (only spaces, as
  *     Spark's `trim`) are stripped from both ends;
  *   - the guard is `^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?[fFdD]?$`
  *     under `find()`: its `$` also matches before ONE final line
  *     terminator (`\n`, `\r\n`, `\r`, U+0085, U+2028, U+2029);
  *   - exactly one trailing `[fFdD]` is stripped;
  *   - the rest goes through Spark's own string -> double cast:
  *     `Double.parseDouble`, which trims `\n` and `\r` but not U+0085,
  *     U+2028 or U+2029; those give null (or, under ANSI, the cast's
  *     error), as the cast does.
  */
case class BrDouble(child: Expression, ansi: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StringType if GraftSqlBridge.binaryEquality(s) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary-collation string, got ${other.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "br_double"

  override def eval(input: InternalRow): Any = {
    val v = BrNumber.parse(child.eval(input).asInstanceOf[UTF8String], ansi)
    if (java.lang.Double.isNaN(v)) null else v
  }

  // the generated code calls the same loop eval runs
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      double ${ev.value} = ${BrNumber.Name}.parse(${c.isNull} ? null : ${c.value}, $ansi);
      boolean ${ev.isNull} = java.lang.Double.isNaN(${ev.value});""")
  }

  override protected def withNewChildInternal(newChild: Expression): BrDouble =
    copy(child = newChild)
}

object BrDouble {
  /** Column API, under the session's ANSI setting (as a cast built now). */
  def apply(c: Column): Column =
    GraftSqlBridge.column(BrDouble(GraftSqlBridge.expression(c), SQLConf.get.ansiEnabled))
}

/** The per-row loop behind [[BrDouble]], shared by its interpreted and
  * generated forms.
  */
object BrNumber {
  /** Class name the generated code calls (the object's static forwarders). */
  private[expressions] val Name: String = getClass.getName.stripSuffix("$")

  private def digit(b: Byte): Boolean = b >= '0' && b <= '9'

  /** [[BrDouble]] of `s`; NaN stands for null (no string the guard
    * accepts parses to NaN).
    */
  def parse(s: UTF8String, ansi: Boolean): Double = {
    if (s == null) return 0.0
    // Works on the UTF-8 bytes: every byte the guard accepts is ASCII,
    // and no byte of a multi-byte sequence is.
    val n = s.numBytes
    val b = new Array[Byte](n)
    var m = 0
    var i = 0
    while (i < n) {
      val c = s.getByte(i)
      if (c != '.') { b(m) = if (c == ',') '.' else c; m += 1 }
      i += 1
    }
    var lo = 0
    while (lo < m && b(lo) == ' ') lo += 1
    var hi = m
    while (hi > lo && b(hi - 1) == ' ') hi -= 1
    // the final line terminator `$` may stand before
    val len = hi - lo
    val last = if (len > 0) b(hi - 1) else 0
    val term =
      if (last == '\n') { if (len >= 2 && b(hi - 2) == '\r') 2 else 1 }
      else if (last == '\r') 1
      else if (len >= 2 && last == 0x85.toByte && b(hi - 2) == 0xC2.toByte) 2 // U+0085
      else if (len >= 3 && (last == 0xA8.toByte || last == 0xA9.toByte) && // U+2028, U+2029
        b(hi - 2) == 0x80.toByte && b(hi - 3) == 0xE2.toByte) 3
      else 0
    val end = hi - term
    // the guard, on [lo, end)
    var j = lo
    if (j < end && (b(j) == '+' || b(j) == '-')) j += 1
    val intFrom = j
    while (j < end && digit(b(j))) j += 1
    var digits = j - intFrom
    if (j < end && b(j) == '.') {
      j += 1
      val fracFrom = j
      while (j < end && digit(b(j))) j += 1
      digits += j - fracFrom
    }
    if (digits == 0) return 0.0
    if (j < end && (b(j) == 'e' || b(j) == 'E')) {
      j += 1
      if (j < end && (b(j) == '+' || b(j) == '-')) j += 1
      val expFrom = j
      while (j < end && digit(b(j))) j += 1
      if (j == expFrom) return 0.0
    }
    val suffix = j < end && (b(j) == 'f' || b(j) == 'F' || b(j) == 'd' || b(j) == 'D')
    if (suffix) j += 1
    if (j != end) return 0.0
    // strip the suffix, keep the terminator, then Spark's string -> double cast
    if (suffix) System.arraycopy(b, end, b, end - 1, term)
    val str = new String(b, lo, len - (if (suffix) 1 else 0), StandardCharsets.UTF_8)
    try java.lang.Double.parseDouble(str)
    catch {
      case _: NumberFormatException =>
        val mode = if (ansi) EvalMode.ANSI else EvalMode.LEGACY
        Cast(Literal(UTF8String.fromString(str)), DoubleType, None, mode).eval() match {
          case d: java.lang.Double => d
          case _ => Double.NaN
        }
    }
  }
}
