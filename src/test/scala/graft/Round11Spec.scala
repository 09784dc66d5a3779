package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Round-11 hardening: the fused per-row SimHash expression
  * (`Dedup.simhashText` / graft.expressions.SimHashText) must be
  * bit-identical to the reference HOF pipeline
  * `simhash(split(text, " "))` it replaces on the streaming hot path —
  * including the tokenization corner cases Java's regex split on `" "`
  * (limit -1) produces: consecutive / leading / trailing spaces emit
  * EMPTY tokens (hash = seed 7), `""` is one empty token, and non-BMP
  * codepoints fold as single codepoints.
  */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  private val tricky = Seq(
    "plain tokens here",
    "",                      // one empty token
    " ",                     // two empty tokens
    "a  b",                  // empty token between a and b
    " leading",
    "trailing ",
    "  ",
    "café naïve",  // accented latin
    "你好 世界", // CJK
    "emoji 😀 pair",   // surrogate pair
    "x",
    "repeated repeated repeated repeated"
  )

  test("simhashText == simhash(tokens(text)) on tokenization corner cases, bits 1/24/63") {
    for (bits <- Seq(1, 24, 63)) {
      val df = tricky.toDF("text")
        .select(col("text"),
          Dedup.simhashText(col("text"), bits).as("fused"),
          Dedup.simhash(Dedup.tokens(col("text")), bits).as("hof"))
      val bad = df.filter(!(col("fused") <=> col("hof"))).collect()
      assert(bad.isEmpty, s"bits=$bits mismatches: ${bad.mkString("; ")}")
    }
  }

  test("simhashText null propagates; matches HOF on the documents corpus") {
    val one = Seq[(java.lang.Long, String)]((1L, null)).toDF("id", "text")
      .select(Dedup.simhashText(col("text"), 24).as("s")).collect()
    assert(one(0).isNullAt(0))
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = docs
      .select(Dedup.simhashText(col("text"), 24).as("fused"),
        Dedup.simhash(Dedup.tokens(col("text")), 24).as("hof"))
      .filter(!(col("fused") <=> col("hof"))).count()
    assert(n === 0L)
  }

  test("simhashText survives both codegen and interpreted eval") {
    // interpreted path: wrap in a filter over a non-codegen boundary by
    // evaluating via collect on a tiny frame with codegen forced off
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val out = tricky.toDF("text")
        .select(Dedup.simhashText(col("text"), 24).as("fused"),
          Dedup.simhash(Dedup.tokens(col("text")), 24).as("hof"))
        .filter(!(col("fused") <=> col("hof"))).count()
      assert(out === 0L)
    }
  }

  test("hierarchy extendPaths == full path recompute: chains, verbatim old rows, new roots") {
    import graft.operators.Hierarchy
    val all = (1L to 1000L).map(i => (i, i - 1)).toDF("id", "parent")
    val full = Hierarchy.materializedPaths(all, "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val day1 = Hierarchy.materializedPaths(
      all.filter(col("id") < 600), "id", "parent")
    val inc = Hierarchy.extendPaths(day1, all.filter(col("id") >= 600),
        "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(inc == full)
    // brand-new root: its own path is itself; children chain below it
    val nr = Hierarchy.extendPaths(day1,
        Seq((5000L, 4000L), (5001L, 5000L)).toDF("id", "parent"),
        "id", "parent")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(nr(4000L) == (4000L, 0L, "4000"))
    assert(nr(5001L) == (4000L, 2L, "4000/5000/5001"))
    assert(nr(7L) == (0L, 7L, full(7L)._3)) // old paths verbatim
  }

  test("labelPropagation: sync rounds, smallest-label ties, isolated nodes keep theirs") {
    import graft.operators.Components
    // two triangles {1,2,3} and {10,11,12} bridged by 3-10; isolated 99
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L), (3L, 10L)).toDF("a", "b")
    val n = Seq(1L, 2L, 3L, 10L, 11L, 12L, 99L).toDF("id")
    def run(r: Int) = Components.labelPropagation(e, "a", "b", n, "id", r)
      .as[(Long, Long)].collect().toMap
    // round 1 (sync from self-labels): each node takes min neighbor label
    assert(run(1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 10L, 12L -> 10L, 99L -> 99L))
    // fixed point: the triangles keep separate communities (the bridge
    // node's two internal votes for 3 outnumber its one vote for 1)
    val fixedPoint = Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 3L, 11L -> 3L, 12L -> 3L, 99L -> 99L)
    assert(run(4) === fixedPoint)
    assert(run(5) === fixedPoint) // genuinely converged
    // rounds = 0 is the identity labeling
    assert(run(0) === Map(1L -> 1L, 2L -> 2L, 3L -> 3L,
      10L -> 10L, 11L -> 11L, 12L -> 12L, 99L -> 99L))
  }

  test("shortestPaths: cheap detour beats direct edge; round-bounded; weight-1 == bfsHops") {
    import graft.operators.Components
    // 1 -10-> 4 direct, but 1 -1-> 2 -1-> 3 -1-> 4 is cheaper (3 hops)
    val e = Seq((1L, 4L, 10L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L),
      (4L, 5L, 2L)).toDF("a", "b", "w")
    val seeds = Seq(1L).toDF("id")
    def run(r: Int) = Components.shortestPaths(e, "a", "b", "w", seeds, "id", r)
      .as[(Long, Long)].collect().toMap
    // after 1 round only direct edges are exact
    assert(run(1) === Map(1L -> 0L, 2L -> 1L, 4L -> 10L))
    // after 3 rounds the detour wins; 5 is reached via the detour + 2
    assert(run(3) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 12L))
    assert(run(4) === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 5L))
    // weights all 1 reduce to hop counts
    val ones = e.withColumn("w", lit(1L))
    val sp = Components.shortestPaths(ones, "a", "b", "w", seeds, "id", 4)
      .as[(Long, Long)].collect().toMap
    val hops = Components.bfsHops(e.select("a", "b"), "a", "b", seeds, "id", 4)
      .as[(Long, Int)].collect().map { case (k, v) => k -> v.toLong }.toMap
    assert(sp === hops)
  }

  test("personalizedPageRank: mass stays seed-local; uniform seeds == pageRank") {
    import graft.operators.Components
    // two disconnected triangles; seed only the first
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val n = Seq(1L, 2L, 3L, 10L, 11L, 12L).toDF("id")
    val ppr = Components.personalizedPageRank(e, "a", "b", n, "id",
        seeds = Seq(1L).toDF("id"), iters = 4)
      .as[(Long, Long)].collect().toMap
    // the unseeded component receives ZERO mass; the seed holds the most
    assert(Seq(10L, 11L, 12L).forall(ppr(_) == 0L))
    assert(Seq(2L, 3L).forall(id => ppr(id) > 0L && ppr(id) < ppr(1L)))
    // seeding EVERY node reproduces plain pageRank exactly
    val all = Components.personalizedPageRank(e, "a", "b", n, "id",
        seeds = n, iters = 3).as[(Long, Long)].collect().toMap
    val pr = Components.pageRank(e, "a", "b", n, "id", iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(all === pr)
  }

  test("kTrussFixed: pendant edges die, triangles live at k=3, only cliques at k=4") {
    import graft.operators.Components
    // triangle {1,2,3} with pendant 3-4; 4-clique {10,11,12,13}
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L), (12L, 13L))
      .toDF("a", "b")
    def run(k: Int) = Components.kTrussFixed(e, "a", "b", k, rounds = 3)
      .as[(Long, Long)].collect().toSet
    val clique = Set((10L, 11L), (10L, 12L), (10L, 13L),
      (11L, 12L), (11L, 13L), (12L, 13L))
    // k=3: triangle + clique survive, the pendant edge does not
    assert(run(3) === clique + ((1L, 2L)) + ((2L, 3L)) + ((1L, 3L)))
    // k=4: every edge needs 2 triangles — only the 4-clique qualifies
    assert(run(4) === clique)
    // k=5: the 4-clique dies too (3 triangles per edge needed)
    assert(run(5) === Set.empty[(Long, Long)])
  }

  test("multiSourceHops: per-seed distances; per-node min == bfsHops") {
    import graft.operators.Components
    // path 1-2-3-4-5 with landmarks 1 and 5
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(1L, 5L).toDF("id")
    val ms = Components.multiSourceHops(e, "a", "b", seeds, "id", 4)
      .as[(Long, Long, Int)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(ms((3L, 1L)) == 2 && ms((3L, 5L)) == 2)
    assert(ms((2L, 1L)) == 1 && ms((2L, 5L)) == 3)
    assert(ms((1L, 1L)) == 0 && ms((1L, 5L)) == 4)
    val perNodeMin = ms.groupBy(_._1._1).map { case (id, m) => id -> m.values.min }
    val hops = Components.bfsHops(e, "a", "b", seeds, "id", 4)
      .as[(Long, Int)].collect().toMap
    assert(perNodeMin === hops)
  }

  test("as-of codegen COMPILES for every direction (no silent interpreted fallback)") {
    // spark.sql.codegen.fallback=false turns a janino compile failure
    // into a thrown error instead of a quiet interpreted fallback —
    // which is how the forward merge's missing `||` (stripMargin ate
    // the pipes of a line-leading operator) hid across four rounds of
    // green runs.
    withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val dir = "/root/testdata/sf0.001"
      assert(Queries.j_asof_native(spark, dir).count() > 0)
      assert(Queries.j_asof_forward(spark, dir).count() > 0)
      assert(Queries.j_asof_nearest(spark, dir).count() > 0)
      assert(Queries.j_asof_tolerance(spark, dir).count() > 0)
    }
  }
}
