package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.operators.Similarity

/** Round-17 pins.
  *
  * The ANN index AT REST (r16 verdict item 1): `pqEncode` /
  * `ivfPqIndex` write the compressed index to parquet, and the search
  * half (`pqTopKFromCodes` / `ivfPqTopKFromCodes`) reads ONLY the
  * stored code columns — at 100 TB the build runs once for hours and
  * every search must never re-load a raw train vector. Pinned here at
  * the PLAN level: the search's streamed (non-broadcast) scan reads
  * code/cell/id columns only, `vec` never appears in its ReadSchema —
  * so a refactor that quietly re-derives codes from raw vectors inside
  * the search fails the suite, not just the bench.
  *
  * Results equality is pinned too: search-from-rest equals the
  * in-query one-shot composition row for row (the CORRECTNESS rows
  * e3_pq_rest / e3_ivfpq_rest grade the same claim against DuckDB).
  */
class Round17Spec extends SparkSpec {

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

  /** Pre-order flatten that descends AQE stages and reused exchanges
    * (both are leaves to TreeNode.collect).
    */
  private def flattenAll(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
      case other => other.children
    }
    p +: kids.flatMap(flattenAll)
  }

  /** All ReadSchema lines of parquet scans that are NOT under a
    * broadcast exchange — the streamed side(s) of the search plan.
    * Walk the plan string: broadcast subtrees render under
    * "BroadcastExchange"/"BroadcastQueryStage" headers in the tree
    * dump, so instead of string-splitting we collect scans from the
    * executed plan tree, skipping broadcast subtrees.
    */
  private def streamedScanSchemas(p: SparkPlan): Seq[String] = {
    def isBroadcast(n: SparkPlan): Boolean = n match {
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
      case _: org.apache.spark.sql.execution.adaptive.BroadcastQueryStageExec => true
      case _ => false
    }
    def walk(n: SparkPlan): Seq[SparkPlan] =
      if (isBroadcast(n)) Nil
      else {
        val kids = n match {
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
          case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
          case other => other.children
        }
        n +: kids.flatMap(walk)
      }
    walk(p).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.requiredSchema.fieldNames.mkString(",")
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.output.map(_.name).mkString(",")
    }
  }

  test("pq index at rest: search scan reads codes only, never raw train vectors") {
    val e = emb()
    val cb = e.filter(col("id") < 8)
    val tmp = java.nio.file.Files.createTempDirectory("r17-pq").toString
    Similarity.pqEncode(e, cb, m = 4).write.mode("overwrite").parquet(tmp)
    val search = Similarity.pqTopKFromCodes(
      e.filter(col("id") < 8), spark.read.parquet(tmp), cb, k = 3, m = 4)
    val schemas = streamedScanSchemas(executed(search))
    assert(schemas.nonEmpty, "expected a streamed-side codes scan")
    schemas.foreach { s =>
      assert(!s.contains("vec") && !s.contains("embedding"),
        s"search streamed side must never read raw vectors: $s")
      assert(s.contains("__c0") && s.contains("__c3"),
        s"search streamed side should read the stored codes: $s")
    }
    // equality with the in-query composition (same contract the
    // CORRECTNESS row grades against DuckDB)
    val oneShot = Similarity.pqTopK(e.filter(col("id") < 8), e, cb, k = 3, m = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    val atRest = search.orderBy("query_id", "rnk").collect().toSeq
    assert(atRest == oneShot)
  }

  test("ivf-pq index at rest (partitioned by cell): search reads cell+codes only") {
    val e = emb()
    val cents = e.filter(col("id") >= 8 && col("id") < 12)
    val cb = e.filter(col("id") < 8)
    val tmp = java.nio.file.Files.createTempDirectory("r17-ivfpq").toString
    Similarity.ivfPqIndex(e, cents, cb, m = 4)
      .write.mode("overwrite").partitionBy("cell").parquet(tmp)
    val codes = spark.read.parquet(tmp)
      .withColumn("cell", col("cell").cast("long"))
    val search = Similarity.ivfPqTopKFromCodes(
      e.filter(col("id") < 8), codes, cents, cb, k = 3, m = 4)
    val schemas = streamedScanSchemas(executed(search))
    assert(schemas.nonEmpty, "expected a streamed-side codes scan")
    schemas.foreach { s =>
      assert(!s.contains("vec") && !s.contains("embedding"),
        s"search streamed side must never read raw vectors: $s")
      assert(s.contains("__c0"),
        s"search streamed side should read the stored codes: $s")
    }
    val oneShot = Similarity.ivfPqTopK(e.filter(col("id") < 8), e, cents, cb,
        k = 3, m = 4)
      .orderBy("query_id", "rnk").collect().toSeq
    val atRest = search.orderBy("query_id", "rnk").collect().toSeq
    assert(atRest == oneShot)
    // probe-set pushdown: ONE query probes ONE cell, and the stored
    // index scan must PRUNE to that cell's partition — files from the
    // other cells are never opened (the property that makes an nprobe
    // search sublinear in index SIZE at rest, not just in compute)
    val single = Similarity.ivfPqTopKFromCodes(
      e.filter(col("id") === 0), codes, cents, cb, k = 3, m = 4)
    single.collect()
    val scans = flattenAll(single.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec
          if s.requiredSchema.fieldNames.contains("__c0") => s
    }
    assert(scans.nonEmpty, "expected the codes file scan")
    scans.foreach { s =>
      assert(s.partitionFilters.nonEmpty,
        "probed-cell filter must reach the scan as a partition filter")
      assert(s.selectedPartitions.partitionCount == 1,
        s"one probed cell must prune to one partition, " +
          s"got ${s.selectedPartitions.partitionCount}")
    }
  }

  test("windowed-agg restart: partial window state carries across incarnations") {
    // the fourth stateful family's restart fixture (StateStoreSave):
    // role-0 keys prove CARRYOVER (batch-1 partial n=1 merges with the
    // batch-2 row into n=2 — a state-less incarnation 2 emits n=1);
    // role-1 keys prove the RESUMED WATERMARK (their batch-2 row's
    // window [-20,0) closed below it, so no window before the grid
    // base ever emits — a fresh-checkpoint incarnation admits it)
    val out = Queries.e11_stream_restart3(spark, sf).collect()
    val base = 1700000400000L
    assert(out.nonEmpty)
    val byKey = out.groupBy(_.getLong(0))
    byKey.foreach { case (k, rows) =>
      if (k >= 0 && k % 2 == 0)
        assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
          Seq((base, 2L)), s"role-0 key $k must emit the merged n=2 window")
      else if (k >= 0)
        assert(rows.map(r => (r.getLong(1), r.getLong(2))).toSeq ==
          Seq((base, 2L)), s"role-1 key $k must emit only its carried window")
    }
    assert(!out.exists(_.getLong(1) < base),
      "no pre-base window may emit: the resumed watermark drops the late row")
    // the driver key's own unemittable tail stays in state: only [20,40)
    assert(byKey(-1L).map(_.getLong(1)).toSeq == Seq(base + 1200000L))
  }

  test("entry-rep index: min-merge fold equals fresh derivation; FromReps equals Auto") {
    val e = emb()
    val a = e.filter(col("id") % 3 =!= 0)
    val b = e.filter(col("id") % 3 === 0)
    // the mergeability contract that makes the index incremental:
    // fold(reps(a), b) == reps(a UNION b), key for key
    val folded = Similarity.entryRepsMerge(Similarity.entryReps(a), b)
      .orderBy("__eb").collect().toSeq
    val fresh = Similarity.entryReps(e).orderBy("__eb").collect().toSeq
    assert(folded == fresh)
    // and therefore the incremental fold is RESULT-IDENTICAL to the
    // corpus-rescanning fold, knnGraphExtend's derived-entry default
    // (same entries -> same beam search)
    val old = e.filter(col("id") % 5 =!= 0)
    val batch = e.filter(col("id") % 5 === 0)
    val reps = Similarity.entryRepsMerge(
      Similarity.entryReps(old.filter(col("id") % 5 <= 2)),
      old.filter(col("id") % 5 >= 3))
    val g = Similarity.nnDescentGraph(old, k = 3, iters = 2, initBits = 6)
    val auto = Similarity.knnGraphExtend(g, old, batch,
      k = 3, beam = 4, hops = 2)
    val fromReps = Similarity.knnGraphExtendFromReps(g, old, batch, reps,
      k = 3, beam = 4, hops = 2)
    val l = auto.orderBy("query_id", "rnk").collect().toSeq
    val r = fromReps.orderBy("query_id", "rnk").collect().toSeq
    graft.Blocks.free(auto); graft.Blocks.free(fromReps); graft.Blocks.free(g)
    assert(l == r)
  }

  test("ivf decontamination: nprobe=nlist equals exact; probing only removes") {
    val e = emb()
    val train = e.filter(col("id") % 5 =!= 0)
    val ev = e.filter(col("id") % 5 === 0)
    val cents = e.filter(col("id").isin(0L, 5L, 10L, 15L))
    def flags(df: DataFrame): Map[Long, (Long, Double)] =
      df.collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val exact = flags(Similarity.semanticDecontaminateExact(train, ev, 0.3))
    // cells PARTITION the eval set, so probing all nlist cells scores
    // every pair — the curve's recall-1 anchor, exactly
    val full = flags(Similarity.semanticDecontaminateIvf(train, ev, cents,
      0.3, nprobe = 4))
    assert(full == exact)
    // fewer probes only REMOVE candidate pairs: flags subset, counts
    // and best sims bounded by exact
    val one = flags(Similarity.semanticDecontaminateIvf(train, ev, cents,
      0.3, nprobe = 1))
    assert(one.forall { case (id, (n, s)) =>
      exact.get(id).exists { case (ne, se) => n <= ne && s <= se }
    })
  }
}
