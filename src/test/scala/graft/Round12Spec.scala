package graft

import graft.operators.Hierarchy
import org.apache.spark.sql.functions._

/** Round-12 pins: the small-batch driver path of Hierarchy.extend /
  * extendPaths must be indistinguishable from the distributed doubling
  * loop (Hierarchy.extendDistributed / extendPathsDistributed, called
  * directly on the same batch) — multi-level
  * new-on-new chains, settled attach points, brand-new roots, path
  * strings, old rows verbatim.
  *
  * Scope: the equivalence holds for ACYCLIC batches — the operator's
  * contract. On contract-violating (cyclic) input the driver path's
  * memoized pointer-chase and the distributed loop's bounded doubling
  * break the cycle at different members, so "identical" is pinned only
  * where the contract holds.
  */
class Round12Spec extends SparkSpec {
  import spark.implicits._

  /** The (id, anc) long edge frame both extend paths consume. */
  private def batchEdges(batch: org.apache.spark.sql.DataFrame) =
    batch.select(col("id").cast("long").as("id"),
      col("parent").cast("long").as("anc"))

  test("extend small-batch driver path == distributed loop") {
    val all = (1L to 1000L).map(i => (i, i - 1)).toDF("id", "parent")
    val day1 = Hierarchy.rootAndDepth(
      all.filter(col("id") < 600), "id", "parent")
    // chain batch off attach 599 plus a brand-new-root pair
    val batch = all.filter(col("id") >= 600)
      .unionByName(Seq((5000L, 4000L), (5001L, 5000L)).toDF("id", "parent"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fast = asMap(Hierarchy.extend(day1, batch, "id", "parent"))
    val slow = asMap(Hierarchy.extendDistributed(day1, batchEdges(batch), 30))
    assert(fast == slow)
    assert(fast(4000L) == (4000L, 0L) && fast(5001L) == (4000L, 2L))
    assert(fast(1000L) == (0L, 1000L)) // 401-deep new-on-new chain
  }

  test("denseIds small-frame local path == distributed rank, payload intact") {
    val df = (1 to 500).map(i => (s"k${1000 - i}", i * 2)).toDF("k", "v")
    val fast = operators.Ids.denseIds(df, "k", 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val slow = operators.Ids.globalRankDist(df, col("k"), asc = true, col("k"), 8)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(fast == slow)
    assert(fast.size == 500)
    // dense 1..N in key order
    assert(fast.map(_._3) == (1L to 500L).toSet)
  }

  test("denseIds past the small-batch gate == row_number oracle, payload intact") {
    // SmallBatchKeys + 1 keys: the probe overflows the gate, so denseIds
    // takes the distributed rank; the keys arrive scrambled
    val n = operators.Ids.SmallBatchKeys + 1
    val df = spark.range(0, n).select(
      ((col("id") * 7919L) % n).as("k"), (col("id") % 13).as("v"))
    val got = operators.Ids.denseIds(df, "k", 8)
    val want = df.withColumn("gid",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy("k"))
        .cast("long"))
    assert(got.columns.toSeq == Seq("k", "v", "gid"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }

  test("extendPaths small-batch driver path == distributed loop") {
    val all = (1L to 400L).map(i => (i, i / 2)).toDF("id", "parent")
    val day1 = Hierarchy.materializedPaths(
      all.filter(col("id") < 100), "id", "parent")
    val batch = all.filter(col("id") >= 100)
      .unionByName(Seq((9000L, 8000L), (9001L, 9000L)).toDF("id", "parent"))
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
    val fast = asMap(Hierarchy.extendPaths(day1, batch, "id", "parent"))
    val slow = asMap(
      Hierarchy.extendPathsDistributed(day1, batchEdges(batch), "/", 30))
    assert(fast == slow)
    assert(fast(9000L) == (8000L, 1L, "8000/9000"))
    assert(fast(9001L) == (8000L, 2L, "8000/9000/9001"))
    // new-on-new path composition through the batch
    assert(fast(399L)._3.endsWith("/199/399"))
  }
}
