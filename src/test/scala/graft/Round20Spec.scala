package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Ids

/** Round-20 pins (optimization round 2).
  *
  * LocalParquet is the driver-side single-file writer behind the
  * streaming rows' mtime-sequenced fixtures (r20: the Spark write job +
  * Hadoop commit protocol per fixture file was pure fixed cost): its
  * files must be READ-IDENTICAL to what `coalesce(1).write.parquet`
  * produced for the same frame — rows, values, nulls — under the
  * writer frame's schema, both batch and `readStream` (the consumer the
  * fixtures exist for).
  *
  * globalRank's small-path join-back honours the verify hook (r19
  * advice item 1); both outcomes are pinned here.
  */
class Round20Spec extends SparkSpec {

  private def tmpDir(prefix: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit(); d
  }

  test("LocalParquet read-back == Spark-written parquet (rows, schema, nulls)") {
    import spark.implicits._
    val df = spark.range(0, 500).toDF("k")
      .select(col("k"),
        (col("k") * 7).as("tsMs"),
        when(pmod(col("k"), lit(10)) === 0, lit(null).cast("double"))
          .otherwise(col("k").cast("double") / 3).as("value"),
        pmod(col("k"), lit(3)).cast("int").as("tag"),
        concat(lit("s"), col("k")).as("name"),
        (pmod(col("k"), lit(2)) === 0).as("flag"))
    val dir = tmpDir("graft_lp")
    // Spark's own single-file write (the old writeSequenced shape)
    val tmp = new java.io.File(dir, ".tmp_spark")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val sparkFile = tmp.listFiles().filter(_.getName.endsWith(".parquet")).head
    // the driver-side writer
    val localFile = new java.io.File(dir, "local.parquet")
    LocalParquet.write(localFile, df.schema, df.collect())

    val a = spark.read.schema(df.schema).parquet(sparkFile.toString)
    val b = spark.read.schema(df.schema).parquet(localFile.toString)
    assert(a.schema == b.schema, "schemas diverge")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "LocalParquet rows diverge from the Spark-written file")
    assert(b.count() == 500)
  }

  test("LocalParquet file feeds the streaming file source (the fixture consumer)") {
    import spark.implicits._
    val df = spark.range(0, 50).toDF("key")
      .select(col("key"), (lit(1700000000000L) + col("key")).as("tsMs"),
        lit(0.0).as("value"))
    val dir = tmpDir("graft_lps")
    LocalParquet.write(new java.io.File(dir, "f1.parquet"), df.schema,
      df.collect())
    val qn = "r20_lp_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
      .writeStream.format("memory").queryName(qn).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table(qn)
    assert(got.count() == 50)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
    spark.catalog.dropTempView(qn)
  }

  test("writeSequencedAll (one fused collect) == per-file writeSequenced") {
    import spark.implicits._
    // two frames of the same column TYPES but different names — the
    // jsi2 view/click shape the fused tagged union must handle
    val v = spark.range(0, 120).toDF("user_id")
      .select(col("user_id"), (col("user_id") * 1000).as("view_id"),
        (lit(1700000000000L) + col("user_id")).as("vms"))
    val c = spark.range(0, 80).toDF("user_id")
      .select(col("user_id"), (col("user_id") * 1000 + 5).as("click_id"),
        (lit(1700000100000L) + col("user_id")).as("cms"))
    val dirA = tmpDir("graft_wsa_per")
    val dirB = tmpDir("graft_wsa_all")
    val now = 1700000000000L
    Queries.writeSequenced(dirA, "v.parquet", now - 120000, v)
    Queries.writeSequenced(dirA, "c.parquet", now - 60000, c)
    Queries.writeSequencedAll(Seq(
      (dirB, "v.parquet", now - 120000, v),
      (dirB, "c.parquet", now - 60000, c)))
    for ((n, sch) <- Seq(("v.parquet", v.schema), ("c.parquet", c.schema))) {
      val a = spark.read.schema(sch).parquet(new java.io.File(dirA, n).toString)
      val b = spark.read.schema(sch).parquet(new java.io.File(dirB, n).toString)
      assert(a.schema == b.schema, s"$n schema diverges")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$n rows diverge between fused and per-file writes")
      // the mtime sequencing survives the fused path (it IS the batch order)
      assert(java.nio.file.Files.getLastModifiedTime(
        new java.io.File(dirB, n).toPath).toMillis ==
        java.nio.file.Files.getLastModifiedTime(
          new java.io.File(dirA, n).toPath).toMillis)
    }
  }

  test("globalRank verify hook fails loudly on a non-unique composite") {
    // duplicate (primary, tieBreak) pairs: the broadcast join-back
    // multiplies rows; with the verify conf on this must THROW, not
    // silently return multiplied rows (r19 advice item 1)
    val df = spark.range(0, 100).toDF("uid")
      .withColumn("payload", col("uid") * 2)
      .withColumn("k", pmod(col("uid"), lit(10)))   // 10 distinct keys
      .withColumn("tb", lit(0L))                     // constant tieBreak
    spark.conf.set("spark.graft.ids.verify", "true")
    try {
      val ex = intercept[IllegalArgumentException] {
        Ids.globalRank(df, col("k"), asc = true, col("tb")).collect()
      }
      assert(ex.getMessage.contains("globalRank"), ex.getMessage)
    } finally spark.conf.unset("spark.graft.ids.verify")
  }

  test("globalRank verify hook passes on a clean unique-composite frame") {
    val df = spark.range(0, 200).toDF("uid")
      .withColumn("payload", col("uid") * 3)
      .withColumn("v", pmod(col("uid") * 37, lit(11)).cast("double"))
    spark.conf.set("spark.graft.ids.verify", "true")
    try {
      val out = Ids.globalRank(df, col("v"), asc = true, col("uid"))
      assert(out.count() == 200)
    } finally spark.conf.unset("spark.graft.ids.verify")
  }
}
