package graft

/** Round-16 pins.
  *
  * Event-time stateful operators: in-contract OUT-OF-ORDER events
  * across micro-batches (r15 advice item 1 — the medium). Within one
  * micro-batch the operator sorts its input, so the only unsorted path
  * is a CARRIED state meeting a next-batch event with
  * wm <= ts < state.lastMs (non-late, within gap): the r15 merge
  * assigned `lastMs = ts`, REGRESSING the session end (possibly below
  * the start) and the timeout computed from it. r16 clamps
  * `lastMs = max(lastMs, ts)` / `startMs = min(startMs, ts)` (and the
  * min-start analog in intervalMergeEventTime), so a straggler widens
  * the session exactly as the batch sessionizer over the same events
  * would.
  *
  * Graph-search defaults (r15 verdict item 1): derived entry points are
  * the DEFAULT of graphSearchTopK/knnGraphExtend, recall ≥ 0.9 pinned
  * with no per-corpus dial. Checkpoint restart (r15 verdict item 3):
  * a stopped-and-resumed stream equals its uninterrupted twin.
  *
  * Pin hygiene (r15 advice items 2/3/4): Blocks.scoped frees every
  * operator-created pin (and persist) when an iterative body throws
  * mid-build — graded for the similarity graph tier AND the components
  * loops; the components loop's superseded rounds actually free (the
  * r15 min-label form freed a Project-wrapped view, which Blocks.free
  * silently no-ops);
  * denseIds' verify mode turns the nondeterministic-input silent drop
  * into a loud failure.
  */
class Round16Spec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._

  private val base = 1700000000000L
  private def min(m: Long): Long = base + m * 60000L

  // the Round14/15Spec 40-cluster fixture: 1000 unit-ish vectors around
  // 40 centroids — the corpus whose cluster structure the old hand dial
  // (entries = 4) provably cannot cover (measured recall 0.05)
  private def clusteredCorpus(): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
  }

  private def edges(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "cand_id")
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("graphSearchTopK DEFAULTS reach >= 0.9 recall (derived entries are the default, r15 verdict item 1)") {
    val cl = clusteredCorpus()
    val qs = cl.filter(col("id") < 20)
    val exact = edges(operators.Similarity.bruteForceTopK(qs, cl, 5))
    val g = operators.Similarity.nnDescentGraph(cl, 10, iters = 3)
    // NO entries argument — a naive caller now gets the derived entry
    // set; the pre-r16 default (entries = 4) measured 0.05 here
    val got = edges(operators.Similarity.graphSearchTopK(
      g, cl, qs, k = 5, beam = 8, hops = 4))
    val recall = (got & exact).size.toDouble / exact.size
    info(f"defaults-only graph-search recall@5: $recall%.4f")
    assert(recall >= 0.9, f"defaults-only recall $recall%.4f below 0.9")
  }

  test("knnGraphExtend DEFAULTS reach >= 0.9 fold recall (derived entries are the default)") {
    val all = clusteredCorpus()
    val old = all.filter(col("id") % 200 >= 40)
    val batch = all.filter(col("id") % 200 < 40)
    val g = operators.Similarity.nnDescentGraph(old, 5, iters = 3)
    val ext = operators.Similarity.knnGraphExtend(
      g, old, batch, k = 5, beam = 8, hops = 3)
    val exactB = edges(operators.Similarity.bruteForceTopK(batch, all, 5))
    val gotB = edges(ext.filter(col("query_id") % 200 < 40))
    val recallB = (gotB & exactB).size.toDouble / exactB.size
    info(f"defaults-only fold batch-list recall@5: $recallB%.4f")
    assert(recallB >= 0.9, f"defaults-only fold recall $recallB%.4f below 0.9")
  }

  test("checkpoint restart: stopped-and-resumed session stream equals the uninterrupted two-batch run") {
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    // the uninterrupted twin of the RESTART fixture (driver +24 — see
    // e11_stream_restart's scaladoc for why it differs from sessions2's
    // +30): same two files, one continuous query, memory sink
    val uninterrupted = {
      import spark.implicits._
      val chDir = new java.io.File(s"/tmp/graft_restart_twin_" +
        java.util.UUID.randomUUID().toString.take(8))
      chDir.mkdirs()
      val (f1, f2) = Queries.sess2Files(spark, sf, driverMin1 = 24)
      val now = System.currentTimeMillis()
      Queries.writeSequenced(chDir, "f1.parquet", now - 120000, f1)
      Queries.writeSequenced(chDir, "f2.parquet", now - 60000, f2)
      val src = spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(chDir.toString)
        .as[graft.streaming.StreamingOps.Event]
      val qn = "restart_twin_" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      val q = graft.streaming.StreamingOps
        .sessionsEventTime(src, gapMinutes = 10, watermark = "10 minutes")
        .toDF()
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      rows(spark.table(qn)
        .withColumnRenamed("key", "user_id")
        .orderBy("user_id", "session_id"))
    }
    val restarted = rows(Queries.e11_stream_restart(spark, sf))
    assert(restarted.nonEmpty, "restart run emitted nothing")
    assert(restarted == uninterrupted,
      s"resumed run diverged: ${restarted.diff(uninterrupted).take(5)} vs ${uninterrupted.diff(restarted).take(5)}")
  }

  test("dedup checkpoint restart: split run equals the uninterrupted three-batch run") {
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val split = rows(Queries.e11_stream_restart2(spark, sf))
    val whole = rows(Queries.e11_stream_dedup2(spark, sf))
    assert(split.nonEmpty, "restarted dedup emitted nothing")
    assert(split == whole,
      s"resumed dedup diverged: ${split.diff(whole).take(5)} vs ${whole.diff(split).take(5)}")
  }

  test("interval-join checkpoint restart: split run equals the uninterrupted three-batch run") {
    val sf = "/root/testdata/sf0.001"
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val split = rows(Queries.j_stream_restart(spark, sf))
    val whole = rows(Queries.j_stream_interval2(spark, sf))
    assert(split.nonEmpty, "restarted join emitted nothing")
    assert(split == whole,
      s"resumed join diverged: ${split.diff(whole).take(5)} vs ${whole.diff(split).take(5)}")
  }

  test("sessionsEventTime: in-contract cross-batch straggler widens, never regresses, the session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.sessionsEventTime(in.toDS(), gapMinutes = 10,
        watermark = "10 minutes")
      .writeStream.format("memory").queryName("sess_straggler")
      .outputMode("append").start()
    try {
      // batch 1: key 1 open session [+0, +8]; key 2 open session
      // [+7, +8]; key 9 pushes the watermark to +15 - 10 = +5
      in.addData(
        StreamingOps.Event(1L, min(0), 0.0), StreamingOps.Event(1L, min(8), 0.0),
        StreamingOps.Event(2L, min(7), 0.0), StreamingOps.Event(2L, min(8), 0.0),
        StreamingOps.Event(9L, min(15), 0.0))
      q.processAllAvailable()
      // batch 2: +6 is NON-LATE (watermark +5) but older than both
      // carried lastMs values — and older than key 2's startMs; +25 is
      // > gap past +8, so it closes both sessions in-function
      in.addData(
        StreamingOps.Event(1L, min(6), 0.0), StreamingOps.Event(1L, min(25), 0.0),
        StreamingOps.Event(2L, min(6), 0.0), StreamingOps.Event(2L, min(25), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM sess_straggler WHERE key IN (1, 2)")
        .as[StreamingOps.SessionOut].collect()
        .map(r => r.key -> ((r.start_ms, r.end_ms, r.n_events))).toMap
      // batch semantics over {0,6,8} / {6,7,8}: one widened session each.
      // the r15 unclamped merge emitted (0, 6) and (7, 6) — end < start
      assert(rows == Map(
          1L -> ((min(0), min(8), 3L)),
          2L -> ((min(6), min(8), 3L))),
        s"straggler must widen the carried session: $rows")
    } finally q.stop()
  }

  test("intervalMergeEventTime: in-contract cross-batch straggler min-clamps the island start") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamingOps
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[StreamingOps.Event]
    val q = StreamingOps.intervalMergeEventTime(in.toDS(),
        intervalMs = 10 * 60000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("iv_straggler")
      .outputMode("append").start()
    try {
      // batch 1: key 1 island [+7, +17]; key 9 watermark -> +5
      in.addData(StreamingOps.Event(1L, min(7), 0.0),
        StreamingOps.Event(9L, min(15), 0.0))
      q.processAllAvailable()
      // batch 2: +6 is non-late and OLDER than the island start — its
      // interval [+6, +16] overlaps, so the sweep-line start is +6;
      // +40 > maxEnd closes the island in-function
      in.addData(StreamingOps.Event(1L, min(6), 0.0),
        StreamingOps.Event(1L, min(40), 0.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT * FROM iv_straggler WHERE key = 1")
        .as[StreamingOps.IntervalOut].collect()
      assert(rows.length == 1 && rows(0).start_ms == min(6)
          && rows(0).end_ms == min(17) && rows(0).n_events == 2,
        s"straggler must pull the island start back to +6: ${rows.toSeq}")
    } finally q.stop()
  }

  private def livePins(): Int =
    spark.sparkContext.getPersistentRDDs.size

  test("Blocks.scoped frees every tracked pin when the body throws") {
    Blocks.sweep(spark.sparkContext)
    val before = livePins()
    val boom = intercept[RuntimeException] {
      Blocks.scoped { ps =>
        ps.cut(spark.range(100).toDF())
        val kept = ps.cut(spark.range(50).toDF())
        ps.free(kept)
        ps.cut(spark.range(10).toDF())
        throw new RuntimeException("mid-build failure")
      }
    }
    assert(boom.getMessage == "mid-build failure")
    assert(livePins() == before,
      s"scoped body leaked pins: ${livePins()} vs $before before")
  }

  test("graphSearchTopK frees its pins when a round job fails (r15 advice: exception safety)") {
    val cl = clusteredCorpus().filter(col("id") < 100)
    // a graph frame that throws during evaluation — AFTER the operator
    // has already pinned the corpus frame, the pre-r16 leak
    val boomGraph = Seq((1L, 2L)).toDF("query_id", "__c")
      .select(col("query_id"),
        when(col("__c") > 0, raise_error(lit("boom")).cast("long"))
          .otherwise(col("__c")).as("cand_id"),
        lit(0.5).as("sim"))
    Blocks.sweep(spark.sparkContext)
    val before = livePins()
    intercept[Exception] {
      operators.Similarity.graphSearchTopK(
        boomGraph, cl, cl.filter(col("id") < 5), k = 3, beam = 4, hops = 2)
    }
    assert(livePins() == before,
      s"failed search leaked pins: ${livePins()} vs $before before")
  }

  test("knnGraphExtend frees its pins (including the adopted search leg) when a late leg fails") {
    val all = clusteredCorpus().filter(col("id") < 200)
    val old = all.filter(col("id") >= 40)
    val batch = all.filter(col("id") < 40)
    Blocks.sweep(spark.sparkContext)
    val g = operators.Similarity.nnDescentGraph(old, 3, iters = 1)
    // poison only the graph's `sim` column: the search leg reads just
    // (query_id, cand_id) — Catalyst prunes sim away — so leg 1
    // SUCCEEDS and its pinned result is adopted by the outer scope;
    // leg 3's merge then evaluates sim and throws, the adopted-handle
    // cleanup case
    val poisoned = g.select(col("query_id"), col("cand_id"),
      when(col("cand_id").isNotNull, raise_error(lit("boom")))
        .otherwise(col("sim")).cast("double").as("sim"))
    val before = livePins() // includes g's own pin, freed after
    intercept[Exception] {
      operators.Similarity.knnGraphExtend(poisoned, old, batch,
        k = 3, beam = 4, hops = 2)
    }
    assert(livePins() == before,
      s"failed fold leaked pins: ${livePins()} vs $before before")
    Blocks.free(g)
  }

  test("largeStarSmallStar frees every superseded round") {
    import spark.implicits._
    // a 12-node path takes several rounds to converge; a free that
    // missed the round's pinned frame itself (the r15 min-label form
    // freed a `.select` view, which Blocks.free no-ops) would leave one
    // block set pinned per round past the first
    val chain = (0L until 11L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = spark.range(12).toDF("id")
    Blocks.sweep(spark.sparkContext)
    val before = livePins()
    val out = operators.Components.largeStarSmallStar(chain, "a", "b", nodes, "id")
    assert(out.collect().forall(_.getLong(1) == 0L), "chain must collapse to comp 0")
    // exactly ONE pin may remain: the cut result the caller reads —
    // the harness sweep reclaims it
    assert(livePins() <= before + 1,
      s"largeStarSmallStar leaked superseded rounds: ${livePins()} vs $before before")
  }

  test("nnDescentGraph initRings <= 0 degrades to one ring, never an analysis error") {
    // explode(array()) of zero struct columns is ArrayType(NullType) —
    // without the clamp the fused init failed at analysis where the r15
    // per-ring form degraded gracefully
    val cl = clusteredCorpus().filter(col("id") < 200)
    val g = operators.Similarity.nnDescentGraph(cl, k = 3, iters = 1,
      initRings = 0)
    assert(g.count() > 0, "zero-ring build must still seed from ring 0 + stripes")
    Blocks.free(g)
  }

  test("components loops free pins AND persists when a round job fails") {
    import spark.implicits._
    // edges whose dst throws on evaluation: pageRank pins pr, persists
    // sym, and fails in round 1's contrib job — everything must release
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "__b")
      .select(col("a"), when(col("__b") > 0,
        raise_error(lit("boom")).cast("long")).otherwise(col("__b")).as("b"))
    val nodes = spark.range(4).toDF("id")
    Blocks.sweep(spark.sparkContext)
    val before = livePins()
    intercept[Exception] {
      operators.Components.pageRank(edges, "a", "b", nodes, "id", iters = 2)
    }
    assert(livePins() == before,
      s"failed pageRank leaked pins/persists: ${livePins()} vs $before")
    intercept[Exception] {
      operators.Components.largeStarSmallStar(edges, "a", "b", nodes, "id")
    }
    assert(livePins() == before,
      s"failed largeStarSmallStar leaked pins/persists: ${livePins()} vs $before")
  }

  test("semanticDecontaminate: exact copies are never missed; blocked hits are a subset of exact") {
    import spark.implicits._
    val cl = clusteredCorpus()
    val train = cl.filter(col("id") >= 100)
    // eval = verbatim copies of 20 train vectors (re-keyed) + 50 other
    // vectors from clusters the copies also populate
    val eval = cl.filter(col("id") >= 100 && col("id") < 120)
      .select((col("id") + 10000).as("id"), col("vec"))
      .unionByName(cl.filter(col("id") < 50)
        .select((col("id") + 20000).as("id"), col("vec")))
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    // identical vectors share every ring bucket: the prefilter cannot
    // drop a verbatim copy at any rings/bits setting
    val copies = ids(operators.Similarity.semanticDecontaminate(
      train, eval, threshold = 0.999))
    assert((100L until 120L).forall(copies.contains),
      s"blocked path missed verbatim copies: ${(100L until 120L).toSet -- copies}")
    // the prefilter only ever REMOVES candidate pairs, so its flag set
    // is a subset of the exact path's at the same threshold
    val lsh = ids(operators.Similarity.semanticDecontaminate(
      train, eval, threshold = 0.6))
    val exact = ids(operators.Similarity.semanticDecontaminateExact(
      train, eval, threshold = 0.6))
    assert(lsh.subsetOf(exact), s"blocked flags not a subset: ${lsh -- exact}")
    val recall = if (exact.isEmpty) 1.0 else (lsh & exact).size.toDouble / exact.size
    info(f"clustered-fixture doc recall at τ=0.6, rings=4: $recall%.4f (${exact.size} exact hits)")
    assert(recall >= 0.8, f"clustered recall $recall%.4f below 0.8")
  }

  test("semanticDecontaminate: a zero-norm eval vector flags nothing (NaN cosine guard)") {
    import spark.implicits._
    val train = clusteredCorpus().filter(col("id") < 100)
    // ONE degenerate all-zero eval embedding (failed-embedding artifact):
    // unguarded, its cosine is NaN for every train row, and Spark orders
    // NaN above every double — the whole corpus would flag as contaminated
    val zero = Seq((9999L, Array.fill(64)(0.0f))).toDF("id", "vec")
    assert(operators.Similarity
      .semanticDecontaminateExact(train, zero, threshold = 0.5).isEmpty)
    assert(operators.Similarity
      .semanticDecontaminate(train, zero, threshold = 0.5).isEmpty)
    // and a zero-norm TRAIN row is excluded, not spuriously flagged
    val zt = train.unionByName(zero)
    val flagged = operators.Similarity
      .semanticDecontaminateExact(zt, train.filter(col("id") < 5), 0.999)
      .select("id").as[Long].collect().toSet
    assert(!flagged.contains(9999L))
  }

  test("denseIds verify mode fails loudly on a nondeterministic input (r15 advice)") {
    import spark.implicits._
    spark.conf.set("spark.graft.ids.verify", "true")
    try {
      // deterministic input with a payload column: guard passes
      val ok = operators.Ids.denseIds(
        Seq(("b", 1), ("a", 2), ("c", 3)).toDF("k", "p"), "k")
      assert(ok.collect().map(r => r.getString(0) -> r.getLong(2)).toMap ==
        Map("a" -> 1L, "b" -> 2L, "c" -> 3L))
      // nanoTime keys differ between the probe evaluation and the
      // join-back evaluation — the silent-drop hazard the guard exists
      // for; without verify mode this returns an EMPTY frame
      val nondet = spark.range(20)
        .map(i => i * 1000000L + System.nanoTime() % 1000000L)
        .toDF("k").withColumn("p", lit(1))
      val boom = intercept[IllegalArgumentException] {
        operators.Ids.denseIds(nondet, "k")
      }
      assert(boom.getMessage.contains("nondeterministic"),
        s"wrong failure: ${boom.getMessage}")
    } finally spark.conf.unset("spark.graft.ids.verify")
  }
}
