package graft.operators

import graft.Blocks.CutSyntax
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hierarchy flattening — root and depth for every node of a
  * parent-pointer forest (org charts, bills of material, category
  * trees, reply threads). Spark has no recursive CTE; the naive
  * translation is "join once per LEVEL", O(depth) shuffles — hopeless
  * for the deep, skewed hierarchies real data has.
  *
  * This operator uses POINTER DOUBLING instead (the e4_subword encode
  * trick applied to graphs): each round every node's known ancestor
  * pointer jumps from distance 2^i to 2^(i+1) by joining the state
  * against itself, so a depth-D forest flattens in ⌈log₂ D⌉ keyed
  * self-joins — a million-deep chain takes 20 rounds, not a million.
  *
  * The loop is FRONTIER-SPLIT: a node whose pointer has landed on a
  * root is settled and leaves the join's probe side for good (it rides
  * each round's state union untouched); only the active frontier keeps
  * joining. Real hierarchies are shallow-majority — most of a 100 TB
  * forest settles in the first two or three rounds — so late rounds
  * shuffle only the deep tail instead of re-proving the settled bulk
  * N times (round-11: the all-rows probe side was the loop's dominant
  * redundant work). The build side must stay the FULL state: an active
  * node's 2^i-jump may land on any settled node, and that hop is
  * exactly what teleports it to its root in one more round. Lineage is
  * cut per round and superseded blocks are freed, same discipline as
  * the components loops; each round is ONE job (`Blocks.cutCount`
  * fuses the round's deployment-aware lineage cut — reliable
  * checkpoint under a checkpoint dir, localCheckpoint otherwise —
  * with its convergence count; r12 halved the loop's job count, which
  * was the dominant fixed cost of small-batch [[extend]] calls).
  */
object Hierarchy {

  /** Doubling rounds every loop here runs at most: 2^30 covers any depth
    * a forest can reach, so only a cycle — whose members never settle —
    * exhausts it.
    */
  private val MaxRounds = 30

  /** `edges`: (idCol, parentCol) rows, one per NON-root node; roots are
    * nodes that appear as parents (or in `extraRoots`) but never as
    * ids. Returns (id, root, depth) for EVERY node including roots
    * (depth 0). Cycles are a contract violation (the loop stops at
    * `MaxRounds`; nodes on a cycle keep a non-root ancestor).
    */
  def rootAndDepth(edges: DataFrame, idCol: String,
                   parentCol: String): DataFrame = graft.Blocks.scoped { ps =>
    val e = edges.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("anc"))
    val roots = e.select(col("anc").as("id"))
      .except(e.select(col("id")))
      .distinct()
    // state: (id, anc, d, s) — anc is id's 2^i-th ancestor (or its
    // root, reached early), d the distance to it, s whether anc is
    // known to BE the root (settled: full depth reached). Roots carry
    // (root, root, 0, true) so every pointer join hits.
    val cur = doubling(ps,
      e.select(col("id"), col("anc"), lit(1L).as("d"),
          lit(false).as("s"))
        .unionByName(roots.select(col("id"), col("id").as("anc"),
          lit(0L).as("d"), lit(true).as("s")))) { cur =>
      cur.filter(!col("s")).as("a")
        .join(cur.select(col("id").as("anc"), col("anc").as("anc2"),
          col("d").as("d2"), col("s").as("s2")).as("b"), Seq("anc"))
        .select(col("id"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"), col("s2").as("s"))
    }
    ps.result(cur)
    cur.select(col("id"), col("anc").as("root"), col("d").as("depth"))
  }

  /** Materialized paths — the BI breadcrumb: every node's full
    * root-to-self id path ("4/9/19/39"), same pointer-doubling loop
    * carrying the ancestor ARRAY (arr(x) at round i = x's nearest
    * 2^i ancestors, nearest first; concat with the jumped-to segment
    * doubles it). Path payload is O(depth) per node — that is the
    * OUTPUT's own size, not overhead. Returns (id, root, depth, path).
    */
  def materializedPaths(edges: DataFrame, idCol: String, parentCol: String,
                        sep: String = "/"): DataFrame =
    doubledArrays(edges, idCol, parentCol)
      .select(col("id"), col("anc").as("root"), col("d").as("depth"),
        concat_ws(sep, concat(reverse(col("arr")), array(col("id")))
          .cast("array<string>")).as("path"))

  /** Ancestor closure — every (node, ancestor) pair INCLUDING the node
    * itself: the join table that turns subtree questions into plain
    * aggregations (BOM cost rollup = closure ⋈ measures, grouped by
    * ancestor). Same ⌈log₂ depth⌉ doubling loop; the exploded output is
    * O(Σ depth) rows — the closure's own size, not overhead.
    */
  def ancestorClosure(edges: DataFrame, idCol: String,
                      parentCol: String): DataFrame =
    doubledArrays(edges, idCol, parentCol)
      .select(col("id"),
        explode(concat(col("arr"), array(col("id")))).as("ancestor"))

  /** Incremental maintenance — attach a batch of NEW nodes to an
    * already-flattened forest without re-proving it. `settled` is a
    * prior [[rootAndDepth]] result (id, root, depth); `newEdges` holds
    * one (idCol, parentCol) row per new non-root node, each parent
    * either an existing node, another new node, or a brand-new root
    * (a parent that is neither). Returns the UPDATED full map —
    * settled rows verbatim (ids are stable by construction: nothing
    * above an existing node changes when leaves attach below it) plus
    * (id, root, depth) for every new node and new root.
    *
    * The loop is the [[rootAndDepth]] frontier doubling restricted to
    * the new batch, with one extra trick: the only EXISTING rows a new
    * node's pointer can ever probe are the direct attach parents (a
    * pointer walks/jumps through new ancestors until it crosses the
    * attachment edge, and the moment it lands on an existing node it
    * teleports to that node's root and settles — it never probes
    * deeper history). So the old map joins the loop through ONE
    * semi-join that keeps just the attach points, and each round is
    * O(|batch|) regardless of corpus size — the property that makes
    * daily ingest into a 100 TB hierarchy a batch-sized job, not a
    * corpus-sized one. Measured (ProbeIncr, fixed 20k batch, corpus
    * 200k → 2M): 1.4 s → 2.3 s, and the residual growth is the
    * irreducible part — the one semi-join's corpus scan plus
    * materializing the corpus-sized RESULT map; the loop itself stays
    * flat.
    *
    * Batches at or under [[Ids.SmallBatchKeys]] edges skip the
    * distributed loop entirely: see [[smallBatch]].
    */
  def extend(settled: DataFrame, newEdges: DataFrame, idCol: String,
             parentCol: String): DataFrame = {
    val e = newEdges.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("anc"))
    smallBatch(e) match {
      case Some(edges) => extendSmall(settled, edges, withPaths = false)
      case None => extendDistributed(settled, e)
    }
  }

  private[graft] def extendDistributed(settled: DataFrame,
                                       e: DataFrame): DataFrame =
      graft.Blocks.scoped { ps =>
    val base = settled.select(col("id").cast("long").as("id"),
      col("root").cast("long").as("anc"),
      col("depth").cast("long").as("d"), lit(true).as("s"))
    val parents = e.select(col("anc").as("id")).distinct()
    // attach points: existing nodes directly referenced by the batch.
    // This semi-join is the ONLY corpus-sized touch in the whole call
    // (AQE broadcasts the batch-sized probe side when it fits).
    val attach = ps.cut(base.join(parents, Seq("id"), "leftsemi"))
    // brand-new roots: referenced as parent, not existing, not in the
    // batch. Existing parents are EXACTLY the attach rows, so the
    // anti-join runs batch-vs-batch — anti-joining `base` here would
    // shuffle the corpus a second time (caught by ProbeIncr: 2.4x at
    // 10x corpus with a fixed batch before this rewrite). One cut
    // covers attach∪newRoots (r12: was three); the __new flag
    // separates the new-root rows back out for the output union.
    val newRoots = parents
      .join(attach.select("id"), Seq("id"), "left_anti")
      .join(e.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("anc"), lit(0L).as("d"),
        lit(true).as("s"))
    val fixedF = ps.cut(attach.withColumn("__new", lit(false))
      .unionByName(newRoots.withColumn("__new", lit(true))))
    ps.free(attach)
    val fixed = fixedF.drop("__new")
    val cur = doubling(ps,
      e.select(col("id"), col("anc"), lit(1L).as("d"),
        lit(false).as("s"))) { cur =>
      val target = fixed.unionByName(cur)
        .select(col("id").as("anc"), col("anc").as("anc2"),
          col("d").as("d2"), col("s").as("s2"))
      cur.filter(!col("s"))
        .join(target, Seq("anc"))
        .select(col("id"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"), col("s2").as("s"))
    }
    // the returned lazy union reads both surviving pins
    ps.result(fixedF); ps.result(cur)
    settled
      .select(col("id").cast("long").as("id"),
        col("root").cast("long").as("root"),
        col("depth").cast("long").as("depth"))
      .unionByName(fixedF.filter(col("__new")).select(col("id"),
        col("anc").as("root"), col("d").as("depth")))
      .unionByName(cur.select(col("id"), col("anc").as("root"),
        col("d").as("depth")))
  }

  /** Incremental [[materializedPaths]] maintenance — the path twin of
    * [[extend]]: attach a batch of new nodes to an existing
    * (id, root, depth, path) map without recomputing it. Settled rows
    * pass through VERBATIM; the only existing state the loop touches is
    * the attach points' ancestor arrays, reconstructed from their own
    * path strings (split, drop self, reverse — one batch-scaled
    * semi-join; the path IS the serialized ancestor array, so no other
    * lookup exists to pay for). New roots and the batch run the
    * [[rootAndDepth]]-style doubling with the ancestor array riding
    * along, exactly as in the full [[materializedPaths]] build.
    */
  def extendPaths(settled: DataFrame, newEdges: DataFrame, idCol: String,
                  parentCol: String, sep: String = "/"): DataFrame = {
    val e = newEdges.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("anc"))
    smallBatch(e) match {
      case Some(edges) => extendSmall(settled, edges, withPaths = true, sep)
      case None => extendPathsDistributed(settled, e, sep)
    }
  }

  private[graft] def extendPathsDistributed(settled: DataFrame, e: DataFrame,
                                            sep: String): DataFrame =
      graft.Blocks.scoped { ps =>
    val sepRe = java.util.regex.Pattern.quote(sep)
    val parts = split(col("path"), sepRe)
    val ancArr = reverse(slice(parts, lit(1), size(parts) - 1))
      .cast("array<long>")
    val base = settled.select(col("id").cast("long").as("id"),
      col("root").cast("long").as("anc"),
      col("depth").cast("long").as("d"), ancArr.as("arr"), lit(true).as("s"))
    val parents = e.select(col("anc").as("id")).distinct()
    // same corpus-touch discipline as [[extend]]: one semi-join, then
    // batch-vs-batch for the new-root set
    val attach = ps.cut(base.join(parents, Seq("id"), "leftsemi"))
    val newRoots = parents
      .join(attach.select("id"), Seq("id"), "left_anti")
      .join(e.select("id"), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("anc"), lit(0L).as("d"),
        array().cast("array<long>").as("arr"), lit(true).as("s"))
    val fixedF = ps.cut(attach.withColumn("__new", lit(false))
      .unionByName(newRoots.withColumn("__new", lit(true))))
    ps.free(attach)
    val fixed = fixedF.drop("__new")
    val cur = doubling(ps,
      e.select(col("id"), col("anc"), lit(1L).as("d"),
        array(col("anc")).as("arr"), lit(false).as("s"))) { cur =>
      val target = fixed.unionByName(cur)
        .select(col("id").as("anc"), col("anc").as("anc2"),
          col("d").as("d2"), col("arr").as("arr2"), col("s").as("s2"))
      cur.filter(!col("s"))
        .join(target, Seq("anc"))
        .select(col("id"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"),
          concat(col("arr"), col("arr2")).as("arr"), col("s2").as("s"))
    }
    def pathOf(idc: Column, arr: Column): Column =
      concat_ws(sep, concat(reverse(arr), array(idc)).cast("array<string>"))
    ps.result(fixedF); ps.result(cur)
    settled
      .select(col("id").cast("long").as("id"),
        col("root").cast("long").as("root"),
        col("depth").cast("long").as("depth"), col("path"))
      .unionByName(fixedF.filter(col("__new")).select(col("id"),
        col("anc").as("root"), col("d").as("depth"),
        pathOf(col("id"), col("arr")).as("path")))
      .unionByName(cur.select(col("id"), col("anc").as("root"),
        col("d").as("depth"), pathOf(col("id"), col("arr")).as("path")))
  }

  /** Shared doubling state: (id, anc = root once settled, d = depth,
    * arr = ancestors nearest-first, s = settled). Same frontier split
    * as [[rootAndDepth]] — settled rows carry their finished array
    * through the union; the per-round concat work is frontier-sized.
    */
  private def doubledArrays(edges: DataFrame, idCol: String,
                            parentCol: String): DataFrame = graft.Blocks.scoped { ps =>
    val e = edges.select(col(idCol).cast("long").as("id"),
      col(parentCol).cast("long").as("anc"))
    val roots = e.select(col("anc").as("id"))
      .except(e.select(col("id")))
      .distinct()
    val cur = doubling(ps,
      e.select(col("id"), col("anc"), lit(1L).as("d"),
          array(col("anc")).as("arr"), lit(false).as("s"))
        .unionByName(roots.select(col("id"), col("id").as("anc"),
          lit(0L).as("d"), array().cast("array<long>").as("arr"),
          lit(true).as("s")))) { cur =>
      cur.filter(!col("s")).as("a")
        .join(cur.select(col("id").as("anc"), col("anc").as("anc2"),
          col("d").as("d2"), col("arr").as("arr2"), col("s").as("s2"))
          .as("b"), Seq("anc"))
        .select(col("id"), col("anc2").as("anc"),
          (col("d") + col("d2")).as("d"),
          concat(col("arr"), col("arr2")).as("arr"), col("s2").as("s"))
    }
    ps.result(cur)
    cur.drop("s")
  }

  /** The pointer-doubling loop every flattening here runs: `start` is
    * the round-0 state (its `s` column marks settled rows), and `jump`
    * maps a round's state to the next round's rows for its unsettled
    * ones; settled rows ride each round's union untouched. Stops when
    * nothing is unsettled or after `MaxRounds` rounds. Each round is
    * ONE job: Blocks.cutCount fuses the round's lineage cut with its
    * convergence count (r12); the superseded round is freed at once.
    */
  private def doubling(ps: graft.Blocks.Scope, start: DataFrame)
                      (jump: DataFrame => DataFrame): DataFrame = {
    var (cur, active) = ps.cutCount(start, !col("s"))
    var iter = 0
    while (active > 0 && iter < MaxRounds) {
      val (next, nAct) = ps.cutCount(
        cur.filter(col("s")).unionByName(jump(cur)), !col("s"))
      ps.free(cur)
      cur = next
      active = nAct
      iter += 1
    }
    cur
  }

  /** Batch-size gate for [[extend]]/[[extendPaths]] — the
    * `Components.minLabelAdaptive` discipline applied to ingest: a
    * daily batch is usually tiny next to the standing map, and at or
    * under [[Ids.SmallBatchKeys]] edges the distributed doubling loop's
    * ~10 scheduled jobs are pure fixed cost (measured r12: ~2 s for a
    * 4k-edge batch at local[32], >80 % of it scheduling). The small path
    * collects the ≤2^17 batch edges (bounded: ≤2 MB) plus the
    * batch-bounded attach-point rows, chases pointers ONCE on the driver
    * with memoization, and ships the resolved rows back as a local
    * relation — two jobs total, and the only corpus-sized touch is the
    * same one attach semi-join the distributed path pays anyway.
    *
    * Some(edges) iff the batch fits the gate — the limit stops scanning
    * at bound+1 rows, so probing a huge batch costs one short-circuit
    * pass, not a count.
    */
  private def smallBatch(e: DataFrame): Option[Array[(Long, Long)]] = {
    val probe = e.limit(Ids.SmallBatchKeys.toInt + 1).collect()
    if (probe.length > Ids.SmallBatchKeys) None
    else Some(probe.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Driver-side resolve for a small batch (see [[smallBatch]]).
    * Semantics match the distributed loop: a parent outside both the
    * batch and the settled map becomes a brand-new root (depth 0,
    * path = itself); cycle members (a contract violation there too)
    * keep a non-root ancestor.
    */
  private def extendSmall(settled: DataFrame, edges: Array[(Long, Long)],
                          withPaths: Boolean,
                          sep: String = "/"): DataFrame = {
    val sp = settled.sparkSession
    import sp.implicits._
    val parent = edges.toMap
    val parentIds = edges.map(_._2).distinct.toSeq
    // the one corpus-sized touch: attach-point rows via semi-join
    val attachRows = {
      val cols =
        if (withPaths) settled.select(col("id").cast("long").as("id"),
          col("root").cast("long").as("root"),
          col("depth").cast("long").as("depth"), col("path"))
        else settled.select(col("id").cast("long").as("id"),
          col("root").cast("long").as("root"),
          col("depth").cast("long").as("depth"),
          lit(null).cast("string").as("path"))
      cols.join(broadcast(parentIds.toDF("id")), Seq("id"), "leftsemi")
        .collect()
    }
    val memo = scala.collection.mutable.HashMap.empty[Long, (Long, Long, String)]
    attachRows.foreach { r =>
      memo(r.getLong(0)) = (r.getLong(1), r.getLong(2),
        if (withPaths) r.getString(3) else null)
    }
    val newRoots = scala.collection.mutable.ArrayBuffer.empty[Long]
    def chase(start: Long): Unit = {
      var x = start
      var stack = List.empty[Long]
      val seen = scala.collection.mutable.HashSet.empty[Long]
      while (!memo.contains(x)) {
        if (!seen.add(x)) { // cycle: pin a non-root ancestor and stop
          memo(x) = (parent(x), 1L,
            if (withPaths) s"${parent(x)}$sep$x" else null)
        } else parent.get(x) match {
          case Some(p) => stack ::= x; x = p
          case None =>
            memo(x) = (x, 0L, if (withPaths) x.toString else null)
            newRoots += x
        }
      }
      stack.foreach { y =>
        if (!memo.contains(y)) memo.get(parent(y)) match {
          case Some((r, d, pth)) =>
            memo(y) = (r, d + 1, if (withPaths) s"$pth$sep$y" else null)
          case None => // unreachable outside cycles
            memo(y) = (parent(y), 1L,
              if (withPaths) s"${parent(y)}$sep$y" else null)
        }
      }
    }
    edges.foreach { case (id, _) => chase(id) }
    val freshIds = edges.map(_._1) ++ newRoots
    val out =
      if (withPaths) {
        val fresh = freshIds.toSeq.map { id =>
          val (r, d, pth) = memo(id); (id, r, d, pth)
        }.toDF("id", "root", "depth", "path")
        settled.select(col("id").cast("long").as("id"),
          col("root").cast("long").as("root"),
          col("depth").cast("long").as("depth"), col("path"))
          .unionByName(fresh)
      } else {
        val fresh = freshIds.toSeq.map { id =>
          val (r, d, _) = memo(id); (id, r, d)
        }.toDF("id", "root", "depth")
        settled.select(col("id").cast("long").as("id"),
          col("root").cast("long").as("root"),
          col("depth").cast("long").as("depth"))
          .unionByName(fresh)
      }
    out
  }
}
