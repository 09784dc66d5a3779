package graft.expressions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.struct
import org.apache.spark.sql.types._

/** A dimension's natural key -> surrogate key map, built on the driver and
  * shipped to the executors as one Spark broadcast variable. Keys are the
  * `UnsafeRow` encoding of the natural-key tuple: for the
  * [[FkProbe.binaryStable]] types two tuples encode to the same bytes
  * exactly when every field is equal or both are null, which is `<=>`.
  */
final class FkTable(val keyTypes: Array[DataType],
                    val sks: java.util.HashMap[UnsafeRow, java.lang.Long]) extends Serializable

object FkTable {
  /** The table of `(sk, key_1, ..., key_n)` rows, or None when a key
    * tuple repeats (a join would multiply the fact row; keep the join).
    * A null SK maps to -1, as the join's `coalesce(sk, -1)` does.
    */
  def of(rows: Seq[InternalRow], skType: DataType, keyTypes: Array[DataType]): Option[FkTable] = {
    val key = UnsafeProjection.create(
      keyTypes.zipWithIndex.map { case (t, i) => BoundReference(i + 1, t, nullable = true) }.toSeq)
    val sks = new java.util.HashMap[UnsafeRow, java.lang.Long](rows.size * 2)
    val unique = rows.forall { r =>
      val sk = if (r.isNullAt(0)) -1L else r.get(0, skType).asInstanceOf[Number].longValue
      sks.put(key(r).copy(), sk) == null
    }
    if (unique) Some(new FkTable(keyTypes, sks)) else None
  }
}

/** In-task foreign-key resolution: the surrogate key that `table` holds
  * for the row's natural key (`child`, a struct of the key columns), or
  * -1 when it holds none — the reference's HashMap probe with its -1
  * sentinel (FullETLGenerator.java:152-170) as a per-row expression,
  * where a broadcast hash join would cost a job per dimension.
  *
  * Key equality is null-safe (`<=>`), so a null attribute finds the dim
  * row built from it. The result has the SK column's type (int or long).
  * Each task copy of the expression encodes its probe keys with its own
  * `UnsafeProjection`; the map is read from the broadcast, deserialized
  * once per executor.
  */
case class FkProbe(child: Expression, table: Broadcast[FkTable], dataType: DataType)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case s: StructType if s.fields.map(_.dataType).sameElements(table.value.keyTypes) &&
        (dataType == IntegerType || dataType == LongType) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: key ${other.simpleString} or SK ${dataType.simpleString} does not " +
        "match the table")
  }
  override def nullable: Boolean = false
  override def prettyName: String = "fk_probe"

  @transient private lazy val encode = UnsafeProjection.create(table.value.keyTypes)
  @transient private lazy val sks = table.value.sks

  /** The SK of `key`, -1 on a miss. */
  def probe(key: InternalRow): Long = {
    val sk = sks.get(encode(key))
    if (sk == null) -1L else sk.longValue
  }

  // a struct is never null, so this sees every row
  override def nullSafeEval(input: Any): Any = {
    val sk = probe(input.asInstanceOf[InternalRow])
    if (dataType == IntegerType) sk.toInt else sk
  }

  // the generated code calls the same probe nullSafeEval runs
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("fkProbe", this)
    val cast = if (dataType == IntegerType) "(int) " else ""
    defineCodeGen(ctx, ev, c => s"$cast$self.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): FkProbe =
    copy(child = newChild)
}

object FkProbe {
  /** Key types whose `UnsafeRow` bytes are equal exactly when `<=>`
    * holds. Float and double are not among them (a join normalizes -0.0
    * and NaN first), nor are strings under a non-binary collation.
    */
  def binaryStable(t: DataType): Boolean = t match {
    case s: StringType => GraftSqlBridge.binaryEquality(s)
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Column API: the SK of the `keys` tuple in `table`, -1 on a miss. */
  def apply(keys: Seq[Column], table: Broadcast[FkTable], skType: DataType): Column =
    GraftSqlBridge.column(FkProbe(GraftSqlBridge.expression(struct(keys: _*)), table, skType))
}
