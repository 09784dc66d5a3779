package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.{Sessionize, Similarity}

/** Round-18 pins.
  *
  * The sessionsFold ingest gate (r17 verdict item 1 / advice): the
  * append-in-event-time contract is now STRICT (batch min ts > snapshot
  * max event ts) and guarded by default — a violating batch fails loud
  * instead of silently mis-attaching sessions. Pinned here at the exact
  * boundary the r17 advice named: a session whose end + gap EQUALS the
  * snapshot max is flagged closed, yet a batch event at exactly that
  * max would still join it under full recompute — so equality must be
  * rejected, not just strictly-older batches.
  *
  * The late-day handler (`sessionsFoldLate`) routes ONLY the violating
  * keys through session-granularity re-sessionization (interval merge
  * of their stored rows with their batch sessions) and must be
  * hash-identical to full recompute — fusion across CLOSED history
  * sessions included.
  *
  * The IVF-PQ search query side (r17 verdict item 2): probe cells are
  * derived on the DRIVER from the already-collected centroids, and the
  * collected query rows become the frame the search joins — a local
  * relation that physically cannot re-evaluate, closing the
  * nondeterministic-query hazard. Pinned: the driver cell math is
  * bit-identical to the expression-side assignment, and the search
  * plan's query side is a LocalTableScan.
  */
class Round18Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def emb(): DataFrame = spark.read
    .parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("vec"))

  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  /** Pre-order flatten that descends AQE stages and reused exchanges. */
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

  private def ev(rows: Seq[(Long, Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("user_id", "tsMs", "event_id")
      .select(col("user_id"), timestamp_millis(col("tsMs")).as("ts"),
        col("event_id"))
  }

  private def canon(d: DataFrame): Seq[(Long, Long, Long, Long, Int)] =
    d.select("user_id", "start_ms", "end_ms", "n_events", "open")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getInt(4))).sorted.toSeq

  private val G = 600000L // the 10-minute gap in ms

  test("sessionsFold fails loud on a contract-violating batch — including the end+gap == max boundary") {
    // user 1's only session ends at 0; user 2 pushes the corpus max to
    // exactly 0 + gap, so user 1's session is flagged CLOSED (strict >).
    val snap = Sessionize.sessionsSnapshot(
      ev(Seq((1L, 0L, 1L), (2L, G, 2L))), "user_id", "ts", "event_id", 10)
    // a batch event at EXACTLY the snapshot max: full recompute would
    // join it to user 1's closed session (gap == G is not > G), which
    // the fold structurally cannot do — the gate must reject equality
    val atMax = intercept[IllegalArgumentException] {
      Sessionize.sessionsFold(snap, ev(Seq((1L, G, 3L))),
        "user_id", "ts", "event_id", 10)
    }
    assert(atMax.getMessage.contains("append-in-event-time"))
    // and a plainly older batch
    val older = intercept[IllegalArgumentException] {
      Sessionize.sessionsFold(snap, ev(Seq((9L, 1L, 4L))),
        "user_id", "ts", "event_id", 10)
    }
    assert(older.getMessage.contains("append-in-event-time"))
    // an empty batch also fails loud (fold to the same snapshot is a
    // caller decision, not a silent no-op)
    val empty = intercept[IllegalArgumentException] {
      Sessionize.sessionsFold(snap, ev(Seq.empty),
        "user_id", "ts", "event_id", 10)
    }
    assert(empty.getMessage.contains("empty"))
    // a conforming batch (strictly newer) still folds
    assert(Sessionize.sessionsFold(snap, ev(Seq((1L, G + 1, 5L))),
      "user_id", "ts", "event_id", 10).count() >= 2)
  }

  test("sessionsFoldLate re-sessionizes only violating keys, hash-equal to full recompute") {
    // user 1: two CLOSED day-1 sessions that a late event FUSES;
    // user 2: conforming (folds through the normal path);
    // user 3: a late key the snapshot has never seen
    val day1 = Seq(
      (1L, 0L, 1L), (1L, 2 * G, 2L), // [0,0] and [2G,2G] — gap 2G closes both
      (2L, G / 2, 3L))
    val batch = Seq(
      (1L, G, 4L), // LATE: bridges user 1's two closed sessions
      (1L, 4 * G, 5L), // and a genuinely new session
      (2L, 3 * G, 6L), // conforming key
      (3L, G / 4, 7L), (3L, G / 3, 8L)) // late key with no history
    val snap = Sessionize.sessionsSnapshot(ev(day1),
      "user_id", "ts", "event_id", 10)
    // the gated fold rejects this batch...
    intercept[IllegalArgumentException] {
      Sessionize.sessionsFold(snap, ev(batch), "user_id", "ts", "event_id", 10)
    }
    // ...and the late handler equals recomputing everything from events
    val got = canon(Sessionize.sessionsFoldLate(snap, ev(batch),
      "user_id", "ts", "event_id", 10))
    val want = canon(Sessionize.sessionsSnapshot(ev(day1 ++ batch),
      "user_id", "ts", "event_id", 10))
    assert(got == want, s"got=$got\nwant=$want")
    // the fusion really happened: user 1 holds one [0, 2G] session of 3
    assert(got.contains((1L, 0L, 2 * G, 3L, 0)))
  }

  test("dedup.verify loud-fails FromRest compositions on a stale index") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("r18-stale").toString
    operators.Dedup.minhashAtRest(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(tmp)
    val full = spark.read.parquet(tmp)
    // a "stale" index: the last ingest's rows never folded in
    val stale = full.filter(col("id") % 11 =!= 0)
    spark.conf.set("spark.graft.dedup.verify", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        Pipelines.curateFromRest(docs, stale, "doc_id", "text",
          minQuality = 0.3, jaccardThreshold = 0.4).collect()
      }
      assert(e.getMessage.contains("STALE"))
      intercept[IllegalArgumentException] {
        Pipelines.ingestReportFromRest(
          docs.filter(col("doc_id") % 5 =!= 0),
          stale.filter(col("id") % 5 =!= 0),
          docs.filter(col("doc_id") % 5 === 0), "doc_id", "text").collect()
      }
      // the FRESH index passes with the gate on (short docs are
      // legitimately absent and must not trip it)
      assert(Pipelines.curateFromRest(docs, full, "doc_id", "text",
        minQuality = 0.3, jaccardThreshold = 0.4).count() > 0)
    } finally spark.conf.unset("spark.graft.dedup.verify")
  }

  test("scd2 applyChanges fails loud on a change at or before a retained regime start") {
    import spark.implicits._
    val prior = graft.star.Scd2.build(
      Seq((1L, 100L, "A"), (1L, 200L, "B"), (2L, 50L, "X"))
        .toDF("k", "ts", "attr"),
      Seq("k"), col("ts"), Seq(col("ts")), Seq("attr"))
    def apply(changes: (Long, Long, String)*) =
      graft.star.Scd2.applyChanges(prior,
        changes.toDF("k", "ts", "attr"),
        Seq("k"), col("ts"), Seq(col("ts")), Seq("attr"))
    // mid-history change: key 1's retained max is 200
    val mid = intercept[IllegalArgumentException] {
      apply((1L, 150L, "C")).collect()
    }
    assert(mid.getMessage.contains("strictly-later"))
    // exactly AT a retained start is also rejected (dropped same-ts
    // events would interleave under the tie-break)
    intercept[IllegalArgumentException] { apply((1L, 200L, "C")).collect() }
    // strictly later folds, and equals the full rebuild
    val got = apply((1L, 300L, "C"))
      .select("k", "valid_from", "valid_to", "version", "is_current", "attr")
      .collect().map(_.toSeq).sortBy(_.toString)
    val want = graft.star.Scd2.build(
      Seq((1L, 100L, "A"), (1L, 200L, "B"), (2L, 50L, "X"), (1L, 300L, "C"))
        .toDF("k", "ts", "attr"),
      Seq("k"), col("ts"), Seq(col("ts")), Seq("attr"))
      .select("k", "valid_from", "valid_to", "version", "is_current", "attr")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.toSeq == want.toSeq)
    // a new key whose history is empty is never "late"
    assert(apply((9L, 10L, "Z")).filter(col("k") === 9L).count() == 1)
  }

  test("driver probe cells are bit-identical to the expression-side assignment") {
    val e = emb()
    val cents = e.filter(col("id") >= 8 && col("id") < 12)
      .select(col("id").cast("long"), col("vec")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    for (p <- Seq(1, 2, 4)) {
      val want = e.select(col("id"),
          Similarity.cellsExpr(cents, p)(col("vec")).as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
      val got = e.select(col("id"), col("vec")).collect().map { r =>
        r.getLong(0) -> Similarity.topCellsDriver(
          r.getSeq[Float](1).toArray, cents, p).toSeq
      }.toMap
      assert(got == want, s"nprobe=$p driver cells diverge from cellsExpr")
    }
  }

  test("at-rest minhash pairs: identical to the fresh path, and no scan reads text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("r18-mh").toString
    operators.Dedup.minhashAtRest(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(tmp)
    val rest = spark.read.parquet(tmp)
    val fromRest = operators.Dedup.minhashPairsFromRest(rest,
      jaccardThreshold = 0.4)
    def pairSet(d: DataFrame) = d.select("id1", "id2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(pairSet(fromRest) ==
      pairSet(operators.Dedup.minhashLsh(docs, "doc_id", "text",
        jaccardThreshold = 0.4)),
      "stored-signature pairs must equal the fresh derivation")
    // the stored signatures are minhashSignatures' at the same width
    def sigs(d: DataFrame) = d.select("id", "sig").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val fresh = sigs(operators.Dedup.minhashSignatures(docs, "doc_id", "text",
      m = 16))
    assert(fresh.nonEmpty && sigs(rest) == fresh,
      "minhashAtRest and minhashSignatures must agree on every signature")
    // the at-rest claim at the PLAN level: every parquet scan of the
    // pair derivation reads stored index columns only — `text` in any
    // ReadSchema means a stage quietly re-shingled the corpus
    val scans = flatten(executed(
      operators.Dedup.minhashPairsFromRestRaw(rest, 4, 4, 0.4)))
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
    assert(scans.nonEmpty, "expected parquet scans of the stored index")
    scans.foreach { s =>
      val fields = s.requiredSchema.fieldNames.toSet
      assert(!fields.contains("text"),
        s"pair stage must never read corpus text, got $fields")
      assert(fields.subsetOf(Set("id", "sh", "sig")),
        s"pair stage must read only stored index columns, got $fields")
    }
  }

  test("curateFromRest equals curate end to end") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tmp = java.nio.file.Files.createTempDirectory("r18-curate").toString
    operators.Dedup.minhashAtRest(docs, "doc_id", "text")
      .write.mode("overwrite").parquet(tmp)
    def ids(d: DataFrame) =
      d.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val atRest = ids(Pipelines.curateFromRest(docs,
      spark.read.parquet(tmp), "doc_id", "text",
      minQuality = 0.3, jaccardThreshold = 0.4))
    val fresh = ids(Pipelines.curate(docs, "doc_id", "text",
      minQuality = 0.3, jaccardThreshold = 0.4))
    assert(atRest == fresh)
    assert(atRest.nonEmpty)
  }

  test("ivf-pq search query side is a single-evaluation local relation") {
    val e = emb()
    val cents = e.filter(col("id") >= 8 && col("id") < 12)
    val cb = e.filter(col("id") < 8)
    val codes = Similarity.ivfPqIndex(e, cents, cb, m = 4)
    val search = Similarity.ivfPqTopKFromCodes(
      e.filter(col("id") < 8), codes, cents, cb, k = 3, m = 4, nprobe = 2)
    val plan = executed(search)
    assert(flatten(plan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.LocalTableScanExec]),
      "the query side must be the collected rows themselves (a local " +
        "relation) — re-deriving it from the caller's frame reintroduces " +
        "the re-evaluation hazard")
  }
}
