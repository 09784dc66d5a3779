package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Ids, Sessionize, Similarity}
import graft.star.Scd2

/** Round-19 pins.
  *
  * The last three "bounded by contract" driver collects are now
  * bounded by GUARD (r18 verdict item 2): sessionsFoldLate's late
  * tail, ivfPqTopKFromCodes' query side, and markovStationary's
  * transition matrix each collect at most Ids.SmallBatchKeys + 1 rows.
  * Past that gate the late fold takes full re-sessionization (the two
  * semantics are property-proven equal) and the other two fail with a
  * named error. Each case here crosses the real gate, with
  * Ids.SmallBatchKeys + 1 keys, rows or transitions.
  *
  * SCD2 completes the sessionsFoldLate pattern (r18 verdict item 3):
  * the per-key event-time high-watermark at rest gates EXACTLY — it
  * catches the mid-regime replay the dimension-only gate provably
  * cannot (the blind-spot fixture here shows applyChanges silently
  * diverging) — and applyChangesLate routes violating keys through a
  * raw-event replay that equals the full rebuild, or rebuilds the whole
  * dimension past the same gate.
  *
  * The pack pipeline's at-rest twin (r18 verdict item 4): packing
  * derives every corpus-wide decision from stored counts and
  * fingerprints; pinned equal to the re-tokenizing pipeline AND pinned
  * that no scan in the pack stage reads text.
  *
  * The stateful-streaming restart row runs under the PRODUCTION state
  * store (RocksDBStateStoreProvider, r18 verdict item 5) and matches
  * the default-provider run bit for bit.
  */
class Round19Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def flatten(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(flatten)
  }

  private val G = 600000L // the 10-minute gap in ms

  // ---------------------------------------------------------------------
  // Guarded collects (r18 verdict item 2)
  // ---------------------------------------------------------------------

  /** Ids.SmallBatchKeys + 1: one unit past every gate below. */
  private val overGate = Ids.SmallBatchKeys + 1

  /** Both frames hold the same rows, duplicates included. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("sessionsFoldLate over-cap auto-fallback equals full re-sessionization") {
    // every one of overGate users is late: history holds one event at
    // 2G (plus 3G+1 for even users), the batch replays one at 0 for odd
    // users (a new session) and at 2G - G/2 for even users (fuses)
    val u = spark.range(overGate).select(col("id").as("user_id"))
    def at(ms: Column, eid: Column) = u.select(col("user_id"),
      timestamp_millis(ms).as("ts"), eid.as("event_id"))
    val even = col("user_id") % 2 === 0
    val hist = at(lit(2 * G), col("user_id"))
      .unionByName(at(lit(3 * G + 1), col("user_id") + overGate).filter(even))
    val late = at(when(even, lit(2 * G - G / 2)).otherwise(lit(0L)),
      col("user_id") + 2 * overGate)
    val snap = Sessionize.sessionsSnapshot(hist, "user_id", "ts",
      "event_id", 10)
    val got = Sessionize.sessionsFoldLate(snap, late, "user_id", "ts",
      "event_id", 10)
    val want = Sessionize.sessionsSnapshot(hist.unionByName(late), "user_id",
      "ts", "event_id", 10)
    val cols = Seq("user_id", "start_ms", "end_ms", "n_events", "open").map(col)
    assert(want.count() == 2 * overGate)
    assert(sameRows(got.select(cols: _*), want.select(cols: _*)))
  }

  test("ivfPqTopKFromCodes fails loud when the query frame exceeds the row cap") {
    import spark.implicits._
    val v = (x: Float) => Array(x, 1f - x, 0.5f, x / 2)
    val corpus = Seq((0L, v(0.1f)), (1L, v(0.9f)), (2L, v(0.5f))).toDF("id", "vec")
    val cents = corpus.filter(col("id") < 2)
    val idx = Similarity.ivfPqIndex(corpus, cents, corpus, m = 4)
    val queries = spark.range(overGate)
      .select(col("id"), typedLit(v(0.3f).toSeq).as("vec"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfPqTopKFromCodes(queries, idx, cents, corpus, k = 1)
        .collect()
    }
    assert(e.getMessage.contains("Ids.SmallBatchKeys"))
  }

  test("markovStationary fails loud when transitions exceed the cardinality cap") {
    // 363 types, one two-event user per (a, b) pair: 363^2 = 131,769
    // distinct transitions, past the 2^17 gate
    val t = 363
    val users = spark.range(t.toLong * t).select(col("id").as("user_id"))
    def step(typ: Column, ts: Long) = users.select(col("user_id"),
      concat(lit("t"), typ.cast("string")).as("event_type"),
      lit(ts).as("ts_ms"), (col("user_id") * 2 + ts).as("event_id"))
    val events = step((col("user_id") / t).cast("long"), 0L)
      .unionByName(step(col("user_id") % t, 1L))
    val e = intercept[IllegalArgumentException] {
      Sessionize.markovStationary(events, "user_id", "event_type",
        "ts_ms", "event_id", iters = 3).collect()
    }
    assert(e.getMessage.contains("CARDINALITY"))
    assert(e.getMessage.contains("Ids.SmallBatchKeys"))
  }

  test("topCellsDriver fails loud on dimension mismatch and survives non-finite dots") {
    val cents = Array((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
    val e = intercept[IllegalArgumentException] {
      Similarity.topCellsDriver(Array(1.0f), cents, p = 1)
    }
    assert(e.getMessage.contains("dim"))
    // a NaN component used to crash BigDecimal.decimal; Round passes
    // non-finite through, and so must the driver twin
    val nan = Similarity.topCellsDriver(Array(Float.NaN, 1.0f), cents,
      p = 2)
    assert(nan.length == 2)
    val inf = Similarity.topCellsDriver(
      Array(Float.MaxValue, Float.MaxValue), cents, p = 1)
    assert(inf.length == 1)
  }

  // ---------------------------------------------------------------------
  // Stored-index geometry guard (r18 advice)
  // ---------------------------------------------------------------------

  test("minhashPairsFromRest fails loud on a geometry-mismatched index") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val narrow = Dedup.minhashAtRest(docs, "doc_id", "text",
      bands = 2, rowsPerBand = 2) // sig width 4
    val e = intercept[IllegalArgumentException] {
      Dedup.minhashPairsFromRest(narrow).collect() // default 4x4 needs 16
    }
    assert(e.getMessage.contains("geometry"))
    // consumed with its OWN geometry, the narrow index works
    assert(Dedup.minhashPairsFromRest(narrow, bands = 2, rowsPerBand = 2)
      .columns.contains("jaccard"))
  }

  // ---------------------------------------------------------------------
  // SCD2 late path (r18 verdict item 3)
  // ---------------------------------------------------------------------

  private def scdEv(rows: Seq[(Long, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "ts", "tb", "attr")
  }

  private def canonScd(d: DataFrame): Seq[(Long, String, Long, Option[Long], Int, Int)] =
    d.select("k", "attr", "valid_from", "valid_to", "version", "is_current")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getInt(4), r.getInt(5))).sorted.toSeq

  test("the mid-regime blind spot: applyChanges silently diverges, applyChangesLate matches the rebuild") {
    // key 1: history t=10 A (retained regime start), t=20 A (DROPPED —
    // same attrs). A replayed change lands at t=15 B: after the max
    // RETAINED ts (10), so the dimension-only gate PASSES — but the
    // true rebuild orders A(10), B(15), A(20): three regimes.
    val hist = scdEv(Seq((1L, 10L, 1L, "A"), (1L, 20L, 2L, "A")))
    val change = scdEv(Seq((1L, 15L, 3L, "B")))
    val nk = Seq("k")
    val prior = Scd2.build(hist, nk, col("ts"), Seq(col("tb")), Seq("attr"))
    val rebuild = Scd2.build(hist.unionByName(change), nk, col("ts"),
      Seq(col("tb")), Seq("attr"))
    // dimension-only gate: passes, silently WRONG (2 regimes, not 3) —
    // this is the documented blind spot, pinned as real
    val blind = Scd2.applyChanges(prior, change, nk, col("ts"),
      Seq(col("tb")), Seq("attr"))
    assert(canonScd(blind) != canonScd(rebuild))
    assert(blind.count() == 2 && rebuild.count() == 3)
    // watermark gate: hwm saw the dropped t=20 event, so t=15 is late →
    // raw replay → exact
    val hwm = Scd2.highWatermark(hist, nk, col("ts"))
    val late = Scd2.applyChangesLate(prior, hwm, hist, change, nk,
      col("ts"), Seq(col("tb")), Seq("attr"))
    assert(canonScd(late) == canonScd(rebuild))
  }

  test("applyChangesLate folds on-time keys and replays late ones in the same batch") {
    // key 1 is late (change at t=15 <= hwm 20); key 2 is on-time
    // (change at t=30 > its hwm 20) and must take the fold leg
    val hist = scdEv(Seq(
      (1L, 10L, 1L, "A"), (1L, 20L, 2L, "A"),
      (2L, 10L, 3L, "X"), (2L, 20L, 4L, "Y")))
    val batch = scdEv(Seq((1L, 15L, 5L, "B"), (2L, 30L, 6L, "Z")))
    val nk = Seq("k")
    val prior = Scd2.build(hist, nk, col("ts"), Seq(col("tb")), Seq("attr"))
    val hwm = Scd2.highWatermark(hist, nk, col("ts"))
    val got = Scd2.applyChangesLate(prior, hwm, hist, batch, nk,
      col("ts"), Seq(col("tb")), Seq("attr"))
    val want = Scd2.build(hist.unionByName(batch), nk, col("ts"),
      Seq(col("tb")), Seq("attr"))
    assert(canonScd(got) == canonScd(want))
    // the folded watermark covers both legs
    val folded = Scd2.foldWatermark(hwm, batch, nk, col("ts"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(folded.toSeq == Seq((1L, 20L), (2L, 30L)))
  }

  test("applyChangesLate past the key gate equals the full rebuild") {
    // overGate keys, each with history at t=20 and a late change at t=5
    val keys = spark.range(overGate).select(col("id").as("k"))
    val hist = keys.select(col("k"), lit(20L).as("ts"), col("k").as("tb"),
      lit("A").as("attr"))
    val batch = keys.select(col("k"), lit(5L).as("ts"),
      (col("k") + overGate).as("tb"), lit("B").as("attr"))
    val nk = Seq("k")
    val prior = Scd2.build(hist, nk, col("ts"), Seq(col("tb")), Seq("attr"))
    val hwm = Scd2.highWatermark(hist, nk, col("ts"))
    val got = Scd2.applyChangesLate(prior, hwm, hist, batch, nk,
      col("ts"), Seq(col("tb")), Seq("attr"))
    val want = Scd2.build(hist.unionByName(batch), nk, col("ts"),
      Seq(col("tb")), Seq("attr"))
    val cols = Seq("k", "attr", "valid_from", "valid_to", "version",
      "is_current").map(col)
    assert(want.count() == 2 * overGate)
    assert(sameRows(got.select(cols: _*), want.select(cols: _*)))
  }

  // ---------------------------------------------------------------------
  // Pack-from-rest (r18 verdict item 4)
  // ---------------------------------------------------------------------

  test("pretrainPackFromRest equals pretrainPack and its pack stage never reads text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("r19-pack").toString
    Pipelines.packAtRest(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/pack")
    val fromRest = Pipelines.pretrainPackFromRest(docs,
      spark.read.parquet(s"$tmp/pack"), "doc_id", "lang", "source")
    val inQuery = Pipelines.pretrainPack(docs, "doc_id", "text",
      "lang", "source")
    def canon(d: DataFrame) = d
      .select("source", "doc_id", "n_tokens", "bin", "bin_off")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).sorted.toSeq
    assert(canon(fromRest) == canon(inQuery))
    assert(canon(fromRest).nonEmpty)
    // ReadSchema pin: NO scan in the from-rest plan reads the text
    // column — packing derives everything from stored counts
    val scans = flatten(executed(fromRest)).collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    assert(scans.forall(!_.schema.fieldNames.contains("text")),
      scans.map(_.schema.fieldNames.mkString("{", ",", "}")).mkString("; "))
  }

  // ---------------------------------------------------------------------
  // RocksDB state-store posture (r18 verdict item 5)
  // ---------------------------------------------------------------------

  /** One stateful restart scenario (partial tumbling window carried in
    * aggregation state across a stop) run twice from scratch — once per
    * provider — and compared. The conf is read at query START, so both
    * incarnations of each run see their provider.
    */
  private def restartRun(provider: Option[String]): Seq[(Long, Long, Long, Double)] = {
    import spark.implicits._
    val base = 1700000400000L
    def min(m: Long): Long = base + m * 60000L
    val tag = provider.fold("hdfs")(_ => "rocks")
    val root = java.nio.file.Files
      .createTempDirectory(s"r19-restart-$tag").toFile
    val srcDir = new java.io.File(root, "src"); srcDir.mkdirs()
    val ckpt = new java.io.File(root, "ckpt").toString
    val outDir = new java.io.File(root, "out").toString
    val file1 = Seq((1L, min(5)), (2L, min(3)), (2L, min(7)), (-1L, min(25)))
      .toDF("key", "tsMs").withColumn("value", lit(1.5))
    val file2 = Seq((1L, min(18)), (2L, min(-5)), (-1L, min(55)))
      .toDF("key", "tsMs").withColumn("value", lit(1.5))
    def write(name: String, mtime: Long, df: DataFrame): Unit =
      Queries.writeSequenced(srcDir, name, mtime, df)
    def runIncarnation(): Unit = {
      val src = spark.readStream.schema(file1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .withColumn("ts", timestamp_millis(col("tsMs")))
      val q = graft.streaming.StreamingOps
        .tumbling(src, "key", "ts", "value", minutes = 20,
          watermark = "10 minutes")
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    provider.foreach(p =>
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    try {
      val now = System.currentTimeMillis()
      write("f1.parquet", now - 120000, file1)
      runIncarnation()
      write("f2.parquet", now - 60000, file2)
      runIncarnation()
    } finally provider.foreach(_ =>
      spark.conf.unset("spark.sql.streaming.stateStore.providerClass"))
    spark.read.parquet(outDir)
      .select("key", "w_start_ms", "n_events", "sum_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).sorted.toSeq
  }

  test("stateful restart recovery is identical under RocksDBStateStoreProvider") {
    val rocks = restartRun(Some(
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    val default = restartRun(None)
    assert(rocks == default)
    assert(rocks.nonEmpty)
    // the carried partial actually merged: key 1's [0,20) window holds
    // events from BOTH incarnations
    assert(rocks.exists { case (k, _, n, _) => k == 1L && n == 2L })
  }

  // --- r19 optimization: globalRank small-frame gate -------------------

  /** The small path must be BIT-IDENTICAL to the distributed path on
    * every ordering edge the rank contract covers: dense ties on the
    * metric, nulls (asc→first, desc→last — Spark's default placement),
    * NaN (sorts greatest), and -0.0 == 0.0 ties broken by the key.
    * Also pins the payload join-back (extra columns survive) and the
    * key-only shortcut (no second evaluation of df).
    */
  test("globalRank small-frame local path == distributed rank, all orderings") {
    import spark.implicits._
    val rows = Seq[(Long, java.lang.Double, String)](
      (1L, 5.0, "a"), (2L, 5.0, "b"), (3L, null, "c"), (4L, Double.NaN, "d"),
      (5L, -0.0, "e"), (6L, 0.0, "f"), (7L, -3.5, "g"), (8L, null, "h"),
      (9L, 5.0, "i"), (10L, Double.PositiveInfinity, "j"))
    val df = rows.toDF("uid", "v", "payload")
    for (asc <- Seq(true, false)) {
      val fast = operators.Ids.globalRank(df, col("v"), asc, col("uid"))
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
      val slow = operators.Ids.globalRankDist(df, col("v"), asc, col("uid"))
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3))).toSet
      assert(fast == slow, s"asc=$asc small path diverges from distributed")
      assert(fast.map(_._3) == (1L to 10L).toSet)
    }
    // key-only shortcut: a df holding exactly the key columns comes back
    // as the ranked local relation itself (one probe job, no join) with
    // df's column order preserved
    val keyOnly = operators.Ids.globalRank(
      df.select(col("uid"), col("v")), col("v"), asc = true, col("uid"))
    assert(keyOnly.columns.toSeq == Seq("uid", "v", "__rank"))
    assert(keyOnly.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.isEmpty, "key-only shortcut must not plan a join")
    val ranks = keyOnly.collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(ranks.values.toSet == (1L to 10L).toSet)
  }
}
