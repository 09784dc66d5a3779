package graft

import java.nio.file.Files
import graft.sources.Layout

/** Layout's two-rename directory swap. */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("recoverSwap restores a snapshot stranded mid-swap at its .old name") {
    val dir = Files.createTempDirectory("graft-swap").toFile.getAbsolutePath + "/snap"
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    // simulate a crash between the two renames: dst moved to .old, no dst
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".old"))
    Layout.recoverSwap(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
    // idempotent when the snapshot is healthy
    Layout.recoverSwap(spark, dir)
    assert(spark.read.parquet(dir).count() == 1)
  }
}
