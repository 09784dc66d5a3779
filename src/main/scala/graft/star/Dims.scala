package graft.star

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import graft.operators.Ids

/** Dimension builders for the Kimball star schema
  * (`/root/reference/src/FullETLGenerator.java:80-122`).
  *
  * The reference assigns surrogate keys in file-encounter order via
  * in-heap HashMaps — inherently single-threaded. Here SKs are assigned by
  * `row_number()` over the natural-key ordering: deterministic,
  * parallel-safe, and reproducible by any SQL oracle (`row_number` /
  * `dense_rank`). SK values differ from the reference but are semantically
  * opaque; fact<->dim consistency holds because both sides derive from the
  * same assignment (SURVEY.md §7.4).
  *
  * Scale note: every distinct-key dim of a source, and the calendar's date
  * range, come from ONE grouping-sets aggregate ([[Dims.probe]]) — a
  * distributed reduction with map-side partial aggregation and one
  * bounded, ordered collect. Dense ids then come from Spark's own sort
  * order, numbered on the driver for dimension-sized results and by
  * [[Ids.globalRankDist]] past the small-batch gate. If density is not
  * required, `xxhash64(keys)` is cheaper still (no sort).
  * [[Dims.firstWinsDim]] stays a separate window: its per-key survivor
  * would force the shared aggregate onto a sort-based plan.
  */
object Dims {

  /** A1 (geracao/status/localizacao pattern): the dedup key is the full
    * attribute set, so any-row-wins == first-wins; distinct keys are
    * semantically exact (FullETLGenerator.java:80-112). The one-dim call
    * of [[probe]].
    */
  def distinctDim(df: DataFrame, skName: String, attrs: Seq[String]): DataFrame =
    probe(df, Seq(skName -> attrs), None)._1.head

  /** Every A1 dim `(skName, attrs)` of `df`, and the inclusive ISO range
    * (lo, hi) of the non-null dates of `date`, from ONE aggregate: one
    * grouping set per dim plus, when `date` is given, the empty set, whose
    * row carries the date's `min`/`max` (the reference's min/max
    * accumulators, FullETLGenerator.java:124-137). The date is projected
    * once per source row, before the sets expand it. The dims' attribute
    * sets must be disjoint. The range is None when `date` is not given or
    * has no non-null value.
    *
    * Dense SK = position in `orderBy(attrs)` order (Spark's default
    * ascending, nulls first) — the same ids as
    * `row_number() over (order by attrs)`:
    *   - a dim the ordered probe saw whole with at most
    *     [[Ids.SmallBatchKeys]] keys (every real dimension) is numbered on
    *     the driver and returned as a LOCAL relation, so writing it or
    *     probing it from the fact ([[FactBuilder.resolveFk]]) re-runs
    *     nothing;
    *   - any other — past the gate, or cut off by the probe's cap — takes
    *     [[Ids.globalRankDist]] over the attribute struct, which never
    *     funnels the keys through one task and skips [[Ids.globalRank]]'s
    *     own gate probe. No dim is numbered from a truncated probe.
    */
  def probe(df: DataFrame, dims: Seq[(String, Seq[String])], date: Option[Column])
      : (Seq[DataFrame], Option[(String, String)]) = {
    val spark = df.sparkSession
    val all = dims.flatMap(_._2)
    require(all.distinct.size == all.size,
      s"Dims.probe: dimension attribute sets overlap: ${dims.map(_._2).mkString(", ")}")
    // grouping_id: bit i (leftmost attribute = most significant) is set
    // when attribute i is NOT in the set, so the empty set's row is the
    // largest and comes first in the descending order below
    def gid(attrs: Seq[String]): Long =
      all.foldLeft(0L)((acc, a) => (acc << 1) | (if (attrs.contains(a)) 0L else 1L))
    val cap = probeCap(dims.size)
    val range = date.toSeq.flatMap(_ =>
      Seq(min("__d").cast("string").as("__lo"), max("__d").cast("string").as("__hi")))
    val rows = df.select(all.map(col) ++ date.map(_.as("__d")): _*)
      .groupingSets(dims.map(_._2.map(col)) ++ date.map(_ => Seq.empty[Column]), all.map(col): _*)
      .agg(grouping_id().as("__g"), range: _*)
      .orderBy(col("__g").desc +: all.map(col): _*)
      .limit(cap)
      .collect()
    // a row is (attrs of all dims, grouping id, lo, hi)
    val gAt = all.size
    val truncated = rows.length == cap
    val groups = rows.groupBy(_.getLong(gAt))
    val lastGroup = rows.lastOption.map(_.getLong(gAt))

    val built = dims.map { case (skName, attrs) =>
      val id = gid(attrs)
      val keys = groups.getOrElse(id, Array.empty[Row])
      val whole = !truncated || (groups.contains(id) && !lastGroup.contains(id))
      if (whole && keys.length <= Ids.SmallBatchKeys) {
        // SKs are LongType: an Int SK silently wraps past 2^31 distinct keys,
        // which a 100 TB dimension can reach. (The reference's in-heap int
        // counter could never get there — its SK domain is not a contract.)
        val schema = StructType(StructField(skName, LongType, nullable = false) +:
          df.select(attrs.map(col): _*).schema.fields)
        val at = attrs.map(all.indexOf(_))
        val numbered = keys.indices.map(i => Row.fromSeq((i + 1L) +: at.map(keys(i).get)))
        spark.createDataFrame(numbered.asJava, schema)
      } else {
        // a struct orders field by field, nulls first — orderBy(attrs) order
        val cols = attrs.map(col)
        val key = struct(cols: _*)
        Ids.globalRankDist(df.select(cols: _*).distinct(), key, asc = true, key)
          .select(col("__rank").as(skName) +: cols: _*)
      }
    }
    val lohi = date.flatMap(_ => groups.get(gid(Nil)))
      .map(_.head).filterNot(_.isNullAt(gAt + 1))
      .map(r => (r.getString(gAt + 1), r.getString(gAt + 2)))
    (built, lohi)
  }

  /** Rows one [[probe]] may bring to the driver: one past the gate per
    * dim, so a dim seen whole knows its side of the gate, plus the
    * calendar row.
    */
  private def probeCap(nDims: Int): Int = (nDims * (Ids.SmallBatchKeys + 1) + 1).toInt

  /** A1 (empreendimento pattern, FullETLGenerator.java:114-122): dedup key
    * is a strict subset of the carried attributes, so WHICH row survives is
    * observable. The reference keeps the first in file order;
    * `dropDuplicates` is nondeterministic about the survivor, so we take
    * rn=1 over an explicit stable ordering (SURVEY.md §7.4).
    *
    * Scale note: this is a single shuffle on `key` (hash-partitioned);
    * the window is per-key, so it parallelizes across keys and never
    * funnels through one task. Skewed keys only matter if one natural key
    * repeats millions of times — then pre-aggregate min(order) per key and
    * self-join instead.
    */
  def firstWinsDim(df: DataFrame, key: Seq[String], attrs: Seq[String],
                   order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(order: _*)
    df.select((key ++ attrs).map(col): _*)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }
}
