package graft

import org.apache.spark.GraftTestCoreBridge
import org.apache.spark.sql.functions._

/** `Blocks.cut` deployment contract: with a checkpoint dir configured
  * (the cluster posture for iterative jobs) every loop round goes
  * through a RELIABLE checkpoint — rounds survive executor loss — and
  * the operators' results are unchanged; without one, the local fast
  * path runs. The dir is cleared in a finally so the shared test
  * session's later suites keep the local path.
  */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withCheckpointDir[A](body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try body(dir)
    finally GraftTestCoreBridge.clearCheckpointDir(spark.sparkContext)
  }

  test("cut takes the reliable path when a checkpoint dir is set, local otherwise") {
    val df = Seq(1, 2, 3).toDF("x")
    withCheckpointDir { dir =>
      val cp = Blocks.cut(df)
      assert(cp.as[Int].collect().sorted === Array(1, 2, 3))
      // reliable checkpoints materialize as files under the dir
      val files = java.nio.file.Files.walk(dir).count()
      assert(files > 1, "expected checkpoint files under the checkpoint dir")
      // free on a SUPERSEDED reliable round reclaims its files eagerly
      // (r12: the default cleaner setting reclaims nothing during the
      // job, so loop operators delete dead rounds themselves)
      Blocks.free(cp)
      assert(java.nio.file.Files.walk(dir).count() < files,
        "free must delete the superseded round's checkpoint files")
    }
    // dir cleared: cut must fall back to localCheckpoint, not throw
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(Blocks.cut(df).as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("cutLazy is a local plan barrier even under a checkpoint dir") {
    val df = Seq(4, 5, 6).toDF("x")
    withCheckpointDir { dir =>
      val before = java.nio.file.Files.walk(dir).count()
      val cp = Blocks.cutLazy(df)
      assert(cp.as[Int].collect().sorted === Array(4, 5, 6))
      // r12 (r11 advice): a barrier's job is to stop plan fusion, not
      // to survive executor loss — writing reliable files at every
      // barrier would be pure cost, so cutLazy never touches the dir
      assert(java.nio.file.Files.walk(dir).count() === before,
        "cutLazy must not write reliable checkpoint files")
    }
    assert(Blocks.cutLazy(df).as[Int].collect().sorted === Array(4, 5, 6))
  }

  test("hierarchy and components loops are unchanged under reliable checkpoints") {
    // depth-5 chain + a bushy 2-level tree, plus a 3-component graph
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L),
      (11L, 10L), (12L, 10L), (13L, 11L)).toDF("id", "parent")
    val expect = Map(2L -> (1L, 1L), 3L -> (1L, 2L), 4L -> (1L, 3L),
      5L -> (1L, 4L), 6L -> (1L, 5L), 1L -> (1L, 0L),
      11L -> (10L, 1L), 12L -> (10L, 1L), 13L -> (10L, 2L), 10L -> (10L, 0L))
    val g = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 7L, 8L, 9L).toDF("id")
    withCheckpointDir { _ =>
      val rd = operators.Hierarchy.rootAndDepth(edges, "id", "parent")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(rd === expect)
      val cc = operators.Components
        .largeStarSmallStar(g, "src", "dst", nodes, "id")
        .as[(Long, Long)].collect().toMap
      assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 9L))
    }
  }

  test("NN-Descent build and graph search are unchanged under reliable checkpoints") {
    // the round-14 iterative loops run their rounds through cut/cutCount
    // too — the reliable posture must reproduce the local result exactly
    val rnd = new scala.util.Random(3)
    val vecs = (0 until 200).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    def run(): (Set[(Long, Long)], Set[(Long, Long)]) = {
      val g = operators.Similarity.nnDescentGraph(vecs, k = 3, iters = 2)
      val s = operators.Similarity.graphSearchTopK(
        g, vecs, vecs.filter(col("id") < 5), k = 3, beam = 4, hops = 2)
      def edges(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "cand_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (edges(g), edges(s))
    }
    val local = run()
    val reliable = withCheckpointDir { _ => run() }
    assert(local == reliable)
    assert(local._1.nonEmpty && local._2.size == 15)
  }

  test("terminal-cut contract bounds the checkpoint DIR across a sweep-less fold loop") {
    // cluster posture of the Round15Spec pin: in reliable mode every
    // pin is checkpoint FILES, so a fold loop that leaked intermediates
    // would grow the checkpoint dir per ingest day — the operators must
    // leave only the caller-held result's files behind
    val rnd = new scala.util.Random(5)
    val all = (0 until 300).map { i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    def rddDirs(dir: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }
    withCheckpointDir { dir =>
      var g = operators.Similarity.nnDescentGraph(
        all.filter(col("id") < 100), k = 3, iters = 2)
      var corpus = all.filter(col("id") < 100)
      Seq((100L, 200L), (200L, 300L)).foreach { case (lo, hi) =>
        val batch = all.filter(col("id") >= lo && col("id") < hi)
        val next = operators.Similarity.knnGraphExtend(
          g, corpus, batch, k = 3, beam = 4, hops = 2)
        Blocks.free(g)
        g = next
        corpus = corpus.unionByName(batch)
      }
      assert(g.count() > 0)
      // only the live result's checkpoint may remain on disk
      val live = rddDirs(dir)
      assert(live <= 1, s"checkpoint dir holds $live rdd checkpoints after the loop")
      Blocks.free(g)
      assert(rddDirs(dir) === 0, "freeing the last result must empty the dir")
    }
  }

  test("a FAILED build reclaims its reliable checkpoint files (scope abort, cluster posture)") {
    // the r16 Blocks.scoped contract in reliable mode: a mid-build
    // throw must delete the checkpoint FILES of every pin the call
    // created — a retrying cluster job whose failed attempts each left
    // a corpus-sized rdd-* dir behind would fill the checkpoint store
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 150).map { i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))
    }.toDF("id", "vec")
    // graph that throws on evaluation AFTER the corpus pin's files exist
    val boomGraph = Seq((1L, 2L)).toDF("query_id", "__c")
      .select(col("query_id"),
        when(col("__c") > 0, raise_error(lit("boom")).cast("long"))
          .otherwise(col("__c")).as("cand_id"),
        lit(0.5).as("sim"))
    def rddDirs(dir: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(dir)
      try s.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      finally s.close()
    }
    withCheckpointDir { dir =>
      intercept[Exception] {
        operators.Similarity.graphSearchTopK(
          boomGraph, vecs, vecs.filter(col("id") < 5), k = 3, beam = 4, hops = 2)
      }
      assert(rddDirs(dir) === 0,
        s"failed build left ${rddDirs(dir)} rdd checkpoint dirs behind")
    }
  }
}
