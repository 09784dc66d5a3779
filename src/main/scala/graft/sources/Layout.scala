package graft.sources

import org.apache.spark.sql.SparkSession

/** Directory swap for outputs that replace a whole table: write the new
  * version beside the old one, then [[swapInto]] puts it in place with
  * two renames, and [[recoverSwap]] rolls back a swap a crash
  * interrupted. `StreamingOps` publishes its snapshots through them.
  * Bucketed joins and partition pruning need no wrapper: Spark's own
  * `bucketBy` and `partitionBy` writers do that.
  */
object Layout {

  /** Replace directory `dst` with `tmp` via two renames instead of
    * delete-then-rename: dst -> dst.old (atomic), tmp -> dst (atomic),
    * delete dst.old. A crash between the renames leaves the data intact
    * at dst.old, and [[recoverSwap]] (called before reading) rolls it
    * back — so no crash point loses the table, unlike a delete window.
    * True single-operation atomicity needs a transactional table format;
    * this is the strongest contract a plain filesystem offers.
    */
  private[graft] def swapInto(spark: SparkSession, tmp: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(tmp), conf)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val oldP = new org.apache.hadoop.fs.Path(dst.stripSuffix("/") + ".old")
    fs.delete(oldP, true)
    if (fs.exists(dstP)) fs.rename(dstP, oldP)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dstP)
    fs.delete(oldP, true)
  }

  /** Roll back a swap interrupted between its two renames: if `dst` is
    * missing but `dst.old` survives, restore it. Idempotent.
    */
  private[graft] def recoverSwap(spark: SparkSession, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dst), conf)
    val dstP = new org.apache.hadoop.fs.Path(dst)
    val oldP = new org.apache.hadoop.fs.Path(dst.stripSuffix("/") + ".old")
    if (!fs.exists(dstP) && fs.exists(oldP)) fs.rename(oldP, dstP)
  }
}
