package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, Dedup, Similarity}

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("as-of backward join: latest right row at or before each left ts") {
    val left = Seq((1L, 100L, "e1"), (1L, 250L, "e2"), (2L, 50L, "e3"))
      .toDF("k", "ms", "ev").withColumn("ts", timestamp_millis($"ms")).drop("ms")
    val right = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (2L, 60L, 30.0))
      .toDF("k", "ms", "px").withColumn("ts", timestamp_millis($"ms")).drop("ms")
    val got = AsOfJoin.backward(left, right, "k", "ts", Seq("px"))
      .select($"ev", $"px").as[(String, Option[Double])].collect().toMap
    assert(got("e1").contains(10.0)) // same-instant right row is visible
    assert(got("e2").contains(20.0)) // latest preceding
    assert(got("e3").isEmpty)        // nothing at or before 50
  }

  test("as-of join returns the matched row's values TOGETHER, including its nulls") {
    val left = Seq((1L, 300L, "e1")).toDF("k", "ms", "ev")
      .withColumn("ts", timestamp_millis($"ms")).drop("ms")
    // latest preceding right row has px=NULL, qty=7 — a true as-of join
    // must NOT back-fill px from the older row
    val right = Seq((1L, 100L, Some(10.0), 1L), (1L, 200L, None, 7L))
      .toDF("k", "ms", "px", "qty")
      .withColumn("ts", timestamp_millis($"ms")).drop("ms")
    val got = AsOfJoin.backward(left, right, "k", "ts", Seq("px", "qty"))
      .select($"ev", $"px", $"qty").as[(String, Option[Double], Long)].collect()(0)
    assert(got == (("e1", None, 7L)))
  }

  test("resolveFk matches NULL natural keys to their dim row (no spurious -1)") {
    val fact = Seq((Some("a"), 1), (None, 2), (Some("zz"), 3)).toDF("attr", "m")
    val dim = Seq((1, Some("a")), (2, None)).toDF("sk", "attr")
    val got = star.FactBuilder.resolveFk(fact, dim, "sk", Seq("attr"), "fk")
      .select($"m", $"fk").as[(Int, Int)].collect().toMap
    assert(got == Map(1 -> 1, 2 -> 2, 3 -> -1))
  }

  test("bucketed range join == naive range join") {
    val rnd = new scala.util.Random(7)
    val l = (1 to 300).map(i => (rnd.nextInt(3).toLong, i.toLong, rnd.nextInt(10000).toLong))
      .toDF("k", "lid", "l_ms")
    val r = (1 to 300).map(i => (rnd.nextInt(3).toLong, rnd.nextInt(10000).toLong))
      .toDF("k", "r_ms")
    val w = 700L
    val naive = l.join(r, Seq("k"))
      .filter($"r_ms" >= $"l_ms" && $"r_ms" < $"l_ms" + w)
      .groupBy("lid").count().as[(Long, Long)].collect().sorted.toSeq
    val bucketed = operators.RangeJoin.bucketed(l, r, "k", "l_ms", "r_ms", w)
      .groupBy("lid").count().as[(Long, Long)].collect().sorted.toSeq
    assert(bucketed == naive)
  }

  test("salted join equals plain join") {
    val left = (1 to 100).map(i => (i % 3L, i)).toDF("k", "lv")
    val right = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("k", "rv")
    val plain = left.join(right, "k").select("k", "lv", "rv")
      .as[(Long, Int, String)].collect().sorted.toSeq
    val salted = Dedup.saltedJoin(left, right, "k", salt = 8)
      .select("k", "lv", "rv").as[(Long, Int, String)].collect().sorted.toSeq
    assert(salted == plain)
  }

  test("NativeDotRewrite is active on a Graft.tune'd session, no manual registration") {
    // SparkSpec's shared session went through Graft.tune ONLY — no
    // spark.sql.extensions config, no extraOptimizations append here.
    // parquet source so constant folding can't collapse the projection
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = e.select($"vec_id",
      operators.Similarity.dotHof($"embedding", $"embedding").as("d"))
    assert(df.queryExecution.optimizedPlan.toString.contains("float_vec_dot"),
      s"rewrite missing in:\n${df.queryExecution.optimizedPlan}")
    // rewritten result == native formulation, row for row
    val native = e.select($"vec_id",
      operators.Similarity.dot($"embedding", $"embedding").as("d"))
    assert(df.orderBy("vec_id").as[(Long, Double)].collect().toSeq ==
      native.orderBy("vec_id").as[(Long, Double)].collect().toSeq)
    // double arrays must NOT be rewritten
    val dbl = e.select(aggregate(
      zip_with($"embedding".cast("array<double>"), $"embedding".cast("array<double>"),
        (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v).as("d"))
    assert(!dbl.queryExecution.optimizedPlan.toString.contains("float_vec_dot"))
  }

  test("bruteForceTopK broadcasts the QUERY side and ranks without a window") {
    val vecs = (1 to 200).map(i => (i.toLong, Array(i.toFloat, (i % 7 + 1).toFloat)))
      .toDF("id", "vec")
    val res = Similarity.bruteForceTopK(vecs.filter($"id" <= 2), vecs, k = 3)
    assert(res.count() == 6)
    val plan = res.queryExecution.executedPlan.toString
    // corpus is the streamed side: the only broadcast is the query set
    assert(plan.contains("BroadcastNestedLoopJoin BuildLeft"),
      s"query side must be the build side:\n$plan")
    // ranking is a bounded aggregate (partial per map task), not a
    // per-query window that funnels a query's candidates into one task
    assert(plan.contains("bounded_top_k"), s"expected bounded_top_k in:\n$plan")
    assert(!plan.contains("Window"), s"no window expected in:\n$plan")
  }

  test("ivfTopK cell assignment is a narrow projection (no window, no N*K shuffle)") {
    val vecs = (1 to 100).map(i => (i.toLong, Array(math.cos(i).toFloat, math.sin(i).toFloat)))
      .toDF("id", "vec")
    val res = Similarity.ivfTopK(vecs.filter($"id" <= 4), vecs,
      vecs.filter($"id" <= 4), k = 2)
    assert(res.count() > 0)
    val plan = res.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"assignment must not use a window:\n$plan")
    assert(plan.contains("bounded_top_k"))
  }

  test("BoundedTopK equals the window top-k formulation") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    val sims = (1 to 500).map { i =>
      (i % 5L, i.toLong, math.floor(rnd.nextDouble() * 1e6) / 1e6)
    }.toDF("query_id", "cand_id", "sim").repartition(7)
    val agged = sims.groupBy("query_id")
      .agg(expressions.BoundedTopK.topK($"sim", $"cand_id", 4).as("tk"))
      .select($"query_id", posexplode($"tk"))
      .select($"query_id", ($"pos" + 1).cast("int").as("rnk"),
        $"col.id".as("cand_id"), $"col.sim".as("sim"))
      .orderBy("query_id", "rnk")
      .as[(Long, Int, Long, Double)].collect().toSeq
    val w = Window.partitionBy($"query_id").orderBy($"sim".desc, $"cand_id")
    val windowed = sims.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 4)
      .select($"query_id", $"rnk".cast("int"), $"cand_id", $"sim")
      .orderBy("query_id", "rnk")
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(agged == windowed)
  }

  test("float_vec_dot available from SQL via extension registration") {
    GraftExtensions.register(spark)
    val got = spark.sql(
      "SELECT float_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].collect()(0)
    assert(got == 11.0)
  }
}
