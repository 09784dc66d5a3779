package graft.star

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.expressions.{FkProbe, FkTable}
import graft.operators.Ids

/** Fact construction: FK resolution with left-outer sentinel semantics
  * (the reference's `FullETLGenerator.java:152-178`).
  *
  * The reference resolves each FK by probing an in-heap HashMap of the
  * dim. Here a dim the driver already holds (a local relation of at most
  * [[Ids.SmallBatchKeys]] rows, as [[Dims]] numbers every real dimension)
  * is probed the same way, in-task: its key -> SK map is one Spark
  * broadcast variable and the [[FkProbe]] kernel looks each fact row up
  * inside the fact's own projection, so the fact stays one narrow pass
  * over its source with no join and no job per dim. Any other dim is
  * broadcast-hash-joined on the natural-key COLUMNS (J1, SURVEY.md §2.1).
  * Either way a missed probe yields the reference's -1 sentinel (J2,
  * FullETLGenerator.java:168-170).
  *
  * Scale: the fact table never moves for FK resolution; only dims —
  * bounded by distinct-key cardinality — travel. Fact grain is preserved:
  * 1 output row per input row, no blow-up possible because dim keys are
  * unique by construction (distinct / first-wins).
  */
object FactBuilder {

  /** Resolve one surrogate FK: the SK of the row's natural key in `dim`
    * under the name `fkName`, `-1` (typed to the SK column, so a long SK
    * stays long) where the dim holds no such key. The dim's attribute
    * columns are not carried over.
    *
    * Keys match NULL-SAFELY (`<=>`): the reference probes a HashMap with
    * string keys, so an empty attribute ("" after its CSV read) still
    * matches the dim row built from the same value
    * (FullETLGenerator.java:152-170). Spark's CSV reader surfaces empty
    * fields as NULL; plain `=` would send every such row to the -1
    * sentinel even though distinctDim emitted a matching NULL dim row.
    *
    * A local dim with int or long SKs, unique keys and key columns of
    * [[FkProbe.binaryStable]] types, typed as in the fact, is resolved by
    * the in-task [[FkProbe]]; any other by a left broadcast hash join
    * (EqualNullSafe is a legal hash-join key).
    */
  def resolveFk(fact: DataFrame, dim: DataFrame, sk: String,
                naturalKey: Seq[String], fkName: String): DataFrame = {
    val skType = dim.schema(sk).dataType
    val keyTypes = naturalKey.map(k => dim.schema(k).dataType).toArray
    val probeable = (skType == IntegerType || skType == LongType) &&
      naturalKey.zip(keyTypes).forall { case (k, t) =>
        FkProbe.binaryStable(t) && fact.schema(k).dataType == t }
    val table =
      if (!probeable) None
      else dim.select((sk +: naturalKey).map(col): _*).queryExecution.optimizedPlan match {
        case l: LocalRelation if l.data.length <= Ids.SmallBatchKeys =>
          FkTable.of(l.data, skType, keyTypes)
        case _ => None
      }
    table match {
      case Some(t) =>
        val shipped = fact.sparkSession.sparkContext.broadcast(t)
        fact.withColumn(fkName, FkProbe(naturalKey.map(col), shipped, skType))
      case None => joinFk(fact, dim, sk, naturalKey, fkName)
    }
  }

  /** [[resolveFk]] as a left broadcast hash join with `dim` as build side. */
  private def joinFk(fact: DataFrame, dim: DataFrame, sk: String,
                     naturalKey: Seq[String], fkName: String): DataFrame = {
    val nkAlias = naturalKey.map(k => k -> s"__nk_$k").toMap
    val build = naturalKey.foldLeft(
      dim.select((sk +: naturalKey).map(col): _*)
        .withColumnRenamed(sk, "__sk") // avoid clash when fkName == sk
    )((d, k) => d.withColumnRenamed(k, nkAlias(k)))
    val cond = naturalKey.map(k => fact(k) <=> build(nkAlias(k))).reduce(_ && _)
    fact.join(broadcast(build), cond, "left")
      .withColumn(fkName, coalesce(col("__sk"), lit(-1).cast(dim.schema(sk).dataType)))
      .drop("__sk")
      .drop(nkAlias.values.toSeq: _*)
  }

  /** Chain several FK resolutions: (dim, sk, naturalKey, fkName)*. */
  def resolveAll(fact: DataFrame,
                 dims: Seq[(DataFrame, String, Seq[String], String)]): DataFrame =
    dims.foldLeft(fact) { case (f, (dim, sk, nk, fk)) =>
      resolveFk(f, dim, sk, nk, fk)
    }
}
