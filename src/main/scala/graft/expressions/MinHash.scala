package graft.expressions

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused native hashed k-shingles of a text column: tokenize on single
  * spaces, portable-polyhash each token (seed 7, `acc*31 + codepoint
  * mod 1000000007` — [[PortablePolyHash]]'s fold), fold every k
  * consecutive token hashes into a shingle hash (seed 7, base 31, mod
  * p), and keep each distinct shingle hash once, in first-occurrence
  * order.
  *
  * WHY a custom Expression: the reference formulation
  * (`array_distinct(transform(sequence(0, n - k), i -> fold(th[i..i+k-1])))`
  * over `transform(split(text, " "), polyhash)`) is three interpreted
  * higher-order chains with two materialized arrays per document, and
  * because Catalyst inlines a projected array at every use site, each
  * stage had to be pinned in its own projection or the per-token fold
  * re-ran per `element_at`. This is one primitive loop over the
  * codepoints with a k-entry ring of token hashes and an open-addressing
  * set for the distinct pass.
  *
  * Semantics are IDENTICAL to the reference (test-pinned, array order
  * included): Java's regex split on `" "` with limit -1 makes every space
  * a boundary, so consecutive, leading and trailing spaces contribute
  * EMPTY tokens (hash = the seed 7) and `""` is one empty token. Fewer
  * than k tokens -> `[]`; null input -> null.
  */
case class ShingleHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"k must be >= 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.shingleHashes(input.asInstanceOf[UTF8String], k)

  // the generated code calls the same loop nullSafeEval runs, so codegen
  // and interpreted evaluation cannot drift apart
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${MinHashKernel.Name}.shingleHashes($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** Column API. */
  def apply(c: Column, k: Int): Column =
    GraftSqlBridge.column(ShingleHashes(GraftSqlBridge.expression(c), k))
}

/** The portable MinHash signature of a shingle-hash array: entry j is
  * `min over x of (a_j * x + b_j) mod 1000000007` for the coefficient
  * pairs `coeffs` (`Dedup.minhashCoeffs`). One primitive loop per row,
  * where the explode-and-`min`-aggregate formulation it replaces
  * shuffled one row per shingle.
  *
  * Null entries are skipped, as `min` skips them. An array with no
  * non-null entry gives m null entries, as each entry's `min` over no
  * values is null (the DuckDB oracle's `list_min([])` likewise); a null
  * array gives null. Every program caller drops documents with fewer
  * than k tokens first, so neither reaches a band.
  */
case class MinHashSignature(child: Expression, coeffs: Seq[(Long, Long)])
    extends UnaryExpression {
  require(coeffs.nonEmpty, "a MinHash signature needs at least one coefficient pair")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<bigint> argument, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_signature"

  @transient private lazy val aCoeffs: Array[Long] = coeffs.map(_._1).toArray
  @transient private lazy val bCoeffs: Array[Long] = coeffs.map(_._2).toArray

  override def nullSafeEval(input: Any): Any =
    MinHashKernel.minima(input.asInstanceOf[ArrayData], aCoeffs, bCoeffs)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = ctx.addReferenceObj("minhashA", aCoeffs, "long[]")
    val b = ctx.addReferenceObj("minhashB", bCoeffs, "long[]")
    defineCodeGen(ctx, ev, c => s"${MinHashKernel.Name}.minima($c, $a, $b)")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Column API. */
  def apply(c: Column, coeffs: Seq[(Long, Long)]): Column =
    GraftSqlBridge.column(MinHashSignature(GraftSqlBridge.expression(c), coeffs))
}

/** The per-row loops behind [[ShingleHashes]] and [[MinHashSignature]],
  * shared by their interpreted and generated forms.
  */
object MinHashKernel {
  private val P = 1000000007L
  /** Class name the generated code calls (the object's static forwarders). */
  private[expressions] val Name: String = getClass.getName.stripSuffix("$")

  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val s = text.toString
    val n = s.length
    var spaces = 0
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') spaces += 1; i += 1 }
    val most = spaces + 2 - k // tokens - k + 1
    if (most <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val out = new Array[Long](most)
    var nOut = 0
    // open-addressing set of shingle hashes; hashes lie in [0, P), so -1
    // marks an empty slot
    val cap = Integer.highestOneBit(most) << 2
    val mask = cap - 1
    val set = new Array[Long](cap)
    java.util.Arrays.fill(set, -1L)
    val ring = new Array[Long](k)
    var nTok = 0
    var h = 7L
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        ring(nTok % k) = h
        nTok += 1
        if (nTok >= k) {
          var g = 7L
          var j = nTok - k
          while (j < nTok) { g = (g * 31L + ring(j % k)) % P; j += 1 }
          var slot = ((g * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask
          while (set(slot) != -1L && set(slot) != g) slot = (slot + 1) & mask
          if (set(slot) == -1L) {
            set(slot) = g
            out(nOut) = g
            nOut += 1
          }
        }
        h = 7L
        i += 1
      } else {
        val cp = s.codePointAt(i)
        h = (h * 31L + cp) % P
        i += Character.charCount(cp)
      }
    }
    UnsafeArrayData.fromPrimitiveArray(
      if (nOut == most) out else java.util.Arrays.copyOf(out, nOut))
  }

  def minima(sh: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val m = a.length
    val n = sh.numElements()
    val sig = Array.fill(m)(Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!sh.isNullAt(i)) {
        seen = true
        val x = sh.getLong(i)
        var j = 0
        while (j < m) {
          val v = Math.floorMod(x * a(j) + b(j), P)
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (seen) UnsafeArrayData.fromPrimitiveArray(sig)
    else new GenericArrayData(new Array[Any](m))
  }
}
