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
  * Scale note: the heavy input is reduced first by a distributed
  * `distinct()` (map-side partial aggregation); dense ids then come from
  * Spark's own sort order, numbered on the driver for dimension-sized
  * results and by [[Ids.globalRankDist]] past the small-batch gate. If
  * density is not required, `xxhash64(keys)` is cheaper still (no sort).
  */
object Dims {

  /** A1 (geracao/status/localizacao pattern): the dedup key is the full
    * attribute set, so any-row-wins == first-wins; a plain distributed
    * `distinct` is semantically exact (FullETLGenerator.java:80-112).
    *
    * Dense SK = position in `orderBy(attrs)` order (Spark's default
    * ascending, nulls first) — the same ids as
    * `row_number() over (order by attrs)`:
    *   - at most [[Ids.SmallBatchKeys]] distinct keys (every real
    *     dimension — [[FactBuilder.resolveFk]] broadcasts each dim through
    *     the driver anyway): one bounded ordered collect, numbered on the
    *     driver and returned as a LOCAL relation, so writing or
    *     broadcasting the dim afterwards re-runs nothing;
    *   - past the gate: [[Ids.globalRankDist]] over the attribute
    *     struct, which never funnels the keys through one task (the
    *     ordered probe already decided the gate, so the struct rank
    *     skips [[Ids.globalRank]]'s own probe).
    */
  def distinctDim(df: DataFrame, skName: String, attrs: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    val cols = attrs.map(col)
    val keys = df.select(cols: _*).distinct()
    val probe = keys.orderBy(cols: _*).limit(Ids.SmallBatchKeys.toInt + 1).collect()
    if (probe.length <= Ids.SmallBatchKeys) {
      // SKs are LongType: an Int SK silently wraps past 2^31 distinct keys,
      // which a 100 TB dimension can reach. (The reference's in-heap int
      // counter could never get there — its SK domain is not a contract.)
      val schema = StructType(
        StructField(skName, LongType, nullable = false) +: keys.schema.fields)
      val rows = probe.indices.map(i => Row.fromSeq((i + 1L) +: probe(i).toSeq))
      spark.createDataFrame(rows.asJava, schema)
    } else {
      // a struct orders field by field, nulls first — orderBy(attrs) order
      val key = struct(cols: _*)
      Ids.globalRankDist(keys, key, asc = true, key)
        .select(col("__rank").as(skName) +: cols: _*)
    }
  }

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
