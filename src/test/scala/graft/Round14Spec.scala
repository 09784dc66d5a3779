package graft

import graft.operators.Ids
import org.apache.spark.sql.functions._

/** Round-14 pins for the [[Ids.denseIds]] small-batch gate rework: the
  * probe that decides the gate must be KEY-PRUNED (bytes-bounded on the
  * driver, not just row-bounded), the local path must never ship payload
  * columns to the driver (gid is broadcast-joined back by key), and both
  * paths must stay bit-identical on wide frames.
  */
class Round14Spec extends SparkSpec {
  import spark.implicits._

  test("denseIds gate probe prunes to the key column at the scan") {
    // parquet-backed so pruning is observable at the source; the probe is
    // globalRank's only collect, caught as it runs
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val outputs = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        if (funcName == "collect") {
          plans.add(qe.executedPlan.toString)
          outputs.add(qe.executedPlan.output.map(_.name))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Ids.denseIds(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
        "doc_id")
      org.apache.spark.GraftTestCoreBridge.drainListeners(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(plans.size == 1, s"expected one probe collect, saw ${plans.size}")
    val scan = plans.peek().linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(scan.contains("doc_id") && !scan.contains("text")
        && !scan.contains("lang"),
      s"probe must read only the key column: $scan")
    // the key is its own tie-break, so it reaches the driver once
    assert(outputs.peek() == Seq("__p"), s"probe collects ${outputs.peek()}")
  }

  test("denseIds wide-payload frame: local path == distributed, payload never collected") {
    // ~40 KB payload per row: the pre-r14 full-row probe would ship
    // ~20 MB for this 500-row frame; the key-pruned probe ships 500
    // short strings regardless of payload width
    val wide = "x" * 40000
    val df = (1 to 500).map(i => (s"k${1000 - i}", wide + i)).toDF("k", "payload")
    val fast = Ids.denseIds(df, "k", 8)
      .select(col("k"), length(col("payload")).as("plen"), col("gid"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val slow = Ids.globalRankDist(df, col("k"), asc = true, col("k"), 8)
      .select(col("k"), length(col("payload")).as("plen"), col("__rank"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(fast == slow)
    assert(fast.size == 500 && fast.map(_._3) == (1L to 500L).toSet)
  }

  private def graphEdges(df: org.apache.spark.sql.DataFrame) = df
    .select("query_id", "cand_id")
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("nnDescentGraph recall >= 0.9 on clustered vectors (sf0.01-sized)") {
    // 40 centroids x 25 points, noise 0.35 — the regime a kNN graph is
    // built for. The sf0.01 embeddings table is ISOTROPIC (measured:
    // within-label avg cosine 0.0016 vs 0.0003 cross — no local
    // structure), where every sublinear ANN method degrades to chance
    // short of all-pairs coverage; that floor is pinned separately below.
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    val cl = (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
    val exact = graphEdges(operators.Similarity.bruteForceTopK(cl, cl, 10))
    val approx = graphEdges(operators.Similarity.nnDescentGraph(cl, 10, iters = 3))
    val recall = (approx & exact).size.toDouble / exact.size
    // measured 0.9995 with the r15 rank-stripe + 4-ring init (the r14
    // id-stripe 0.9877 rode a CRT accident of this fixture's `i % 40`
    // cluster ids; rings=1 with honest stripes measures 0.53)
    info(f"clustered recall@10 after 3 rounds: $recall%.4f")
    assert(recall >= 0.9, f"NN-Descent recall $recall%.4f below 0.9")
  }

  test("nnDescentGraph floor on the isotropic sf0.01 embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val exact = graphEdges(operators.Similarity.bruteForceTopK(e, e, 10))
    val approx = graphEdges(operators.Similarity.nnDescentGraph(e, 10, iters = 5))
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"isotropic recall@10 after 5 rounds: $recall%.4f") // measured 0.7456 (r15 4-ring init; 0.6838 at r14)
    assert(recall >= 0.6, f"isotropic floor regressed: $recall%.4f")
  }

  test("graphSearchTopK recall on clustered vectors (build + search compose)") {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    val cl = (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
    val qs = cl.filter(col("id") < 20)
    val exact = graphEdges(operators.Similarity.bruteForceTopK(qs, cl, 5))
    val g = operators.Similarity.nnDescentGraph(cl, 10, iters = 3)
    // a pure kNN graph has no inter-cluster edges, so the entry set
    // must cover the cluster structure (64 entries for 40 clusters —
    // the role HNSW's upper layers play structurally); with 4 entries
    // the beam provably cannot escape the entry clusters (recall 0.05)
    val approx = graphEdges(operators.Similarity.graphSearchTopK(
      g, cl, qs, k = 5, beam = 8, hops = 4, entries = 64))
    val recall = (approx & exact).size.toDouble / exact.size
    info(f"graph-search recall@5, beam 8, 4 hops, 64 entries: $recall%.4f")
    assert(recall >= 0.8, f"graph-search recall $recall%.4f below 0.8")
  }

  test("knnGraphExtend: batch folds in with near-rebuild quality on clustered vectors") {
    val rnd = new scala.util.Random(42)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = Array.fill(40)(unit())
    val all = (0 until 1000).map { i =>
      val c = cents(i % 40)
      val noise = unit()
      (i.toLong, c.zip(noise).map { case (a, b) => a + 0.35f * b })
    }.toDF("id", "vec")
    // the fold's contract is newcomers NEAR existing content: take 5 of
    // each cluster's 25 members as the batch ((id % 200) < 40 picks ids
    // c, c+200, ..., c+800 per cluster c), leaving 20 standing. A batch
    // of ENTIRELY new clusters (first attempt: id % 5, which makes the 8
    // clusters with c % 5 == 0 wholly new) measures recall 0 by
    // construction — there is no standing neighborhood to search toward;
    // that regime needs a rebuild (documented in the operator scaladoc).
    val old = all.filter(col("id") % 200 >= 40)
    val batch = all.filter(col("id") % 200 < 40)
    val g = operators.Similarity.nnDescentGraph(old, 5, iters = 3)
    val ext = operators.Similarity.knnGraphExtend(
      g, old, batch, k = 5, beam = 8, hops = 3, entries = 64)
    // batch vertices' lists vs the exact kNN of the FULL corpus
    val exactB = graphEdges(operators.Similarity.bruteForceTopK(batch, all, 5))
    val gotB = graphEdges(ext.filter(col("query_id") % 200 < 40))
    val recallB = (gotB & exactB).size.toDouble / exactB.size
    info(f"extended batch lists recall@5: $recallB%.4f")
    // measured 0.9980 with the r15 4-ring batch pairing — the r14
    // verdict's 0.81→>=0.9 target, reached by better init seeds rather
    // than a refinement round (the one-shot fold contract is unchanged)
    assert(recallB >= 0.9, f"batch-fold recall $recallB%.4f below 0.9")
    // old lists only ever change by a newcomer entering: every surviving
    // old->old edge must come from the day-1 graph
    val day1 = graphEdges(g)
    val oldOld = ext.filter(col("query_id") % 200 >= 40
        && col("cand_id") % 200 >= 40)
    assert(graphEdges(oldOld).subsetOf(day1),
      "an old->old edge appeared that day 1 never had")
  }

  test("nnDescentGraph one-orthant corpus: ring init stays linear, graph complete") {
    // all-positive vectors put the ENTIRE corpus in one sign bucket —
    // the skew case where an all-pairs-within-bucket init would build
    // N^2/2 pairs; the ring init builds N*2*ceil(k/2) and the operator
    // must complete with <= k neighbors per vertex
    val rnd = new scala.util.Random(7)
    val pos = (0 until 1000).map { i =>
      (i.toLong, Array.fill(64)(math.abs(rnd.nextGaussian()).toFloat))
    }.toDF("id", "vec")
    val g = operators.Similarity.nnDescentGraph(pos, k = 5, iters = 2)
      .groupBy("query_id").count().collect()
    assert(g.length == 1000 && g.forall(_.getLong(1) <= 5))
  }

  test("denseIds key-only frame skips the join-back (extendIds path)") {
    val keys = (1 to 300).map(i => s"k$i").toDF("k")
    val ids = Ids.denseIds(keys, "k", 8)
    assert(ids.columns.toSeq == Seq("k", "gid"))
    val got = ids.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    // dense 1..N in Spark string sort order: k1, k10, k100, ...
    val expect = (1 to 300).map(i => s"k$i").sorted.zipWithIndex
      .map { case (k, i) => k -> (i + 1L) }.toMap
    assert(got == expect)
    // no join in the key-only local path: single local-relation window
    val plan = ids.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"), s"key-only path should not join:\n$plan")
  }
}
