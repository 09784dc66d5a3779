package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** Lineage-cut + storage-block hygiene for iterative operators.
  *
  * `Dataset.localCheckpoint(eager = true)` persists the materialized rows
  * as storage blocks that `Dataset.unpersist` CANNOT release (unpersist
  * routes through the CacheManager, which never saw the checkpoint). Left
  * alone, the blocks linger until the ContextCleaner happens to GC the
  * RDD — round 2 measured session-wide slowdown (trivial scans 3-5x) from
  * exactly that accumulation across a long bench run. Iterative operators
  * free superseded rounds with [[free]]; harnesses drop everything between
  * independent queries with [[sweep]].
  */
object Blocks {

  /** Cut lineage between rounds of an iterative operator, materializing
    * the frame eagerly. Which checkpoint runs is a DEPLOYMENT decision,
    * read from the session:
    *
    *   - a cluster job that has called `sparkContext.setCheckpointDir`
    *     (standard practice for any iterative workload on a real
    *     cluster) gets a RELIABLE checkpoint — rounds are written to
    *     the fault-tolerant store, so losing an executor mid-loop costs
    *     a re-read, not the job (localCheckpoint blocks die with their
    *     executor and their lineage is truncated: unrecoverable);
    *   - no checkpoint dir (local runs, tests, the bench harness) falls
    *     back to `localCheckpoint` — executor == driver, so reliability
    *     adds nothing and the memory-block path is strictly faster.
    *
    * The reliable path persists the frame BEFORE checkpointing and
    * unpersists after: `RDD.checkpoint` writes its files in a separate
    * job that would otherwise recompute the whole plan — every
    * iterative round computed twice in cluster posture (r11 advice).
    * With the persist, the checkpoint-writer job re-reads the cached
    * blocks instead.
    *
    * Superseded rounds' checkpoint FILES are reclaimed eagerly by
    * [[free]] (see there) — no reliance on the non-default
    * `spark.cleaner.referenceTracking.cleanCheckpoints` setting.
    *
    * Measured cost of the reliable posture (ProbeCkpt, idle host,
    * local[32], sf0.1): `e2_pagerank` (6 rounds through this cut)
    * 2.13 s local → 2.71 s reliable, 1.27× — i.e. ~0.1 s/round of
    * persist+file-write+reclaim buys a loop that survives executor
    * loss; at 100 TB the same trade is what keeps a 30-round job
    * restartable instead of recomputing from round 0.
    */
  def cut[T](ds: Dataset[T]): Dataset[T] = {
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try ds.checkpoint(eager = true)
      finally ds.unpersist(blocking = false)
    } else ds.localCheckpoint(eager = true)
  }

  /** Lazy PLAN BARRIER (codegen-deferral stops, index builds read by
    * one downstream join): always `localCheckpoint`, never the reliable
    * path — a barrier's job is to stop plan fusion, not to survive
    * executor loss, and writing full reliable checkpoint files at every
    * barrier in cluster posture would be pure cost (r11 advice). A
    * barrier-truncated lineage that loses blocks fails the QUERY, which
    * simply reruns — unlike a mid-LOOP round, where [[cut]]'s reliable
    * path is what keeps a 30-round job restartable.
    */
  def cutLazy[T](ds: Dataset[T]): Dataset[T] =
    ds.localCheckpoint(eager = false)

  /** [[cut]] fused with a loop's convergence count — ONE job per round
    * on the local path: the lazy localCheckpoint's blocks materialize
    * as the counting action computes them (a full-frame aggregate
    * computes every partition, and a locally-checkpoint-marked RDD
    * persists each partition it computes), where eager-cut-then-count
    * was two. The reliable path keeps [[cut]]'s
    * persist→checkpoint→count sequence — durability there is worth the
    * extra job. `pred` is the row predicate whose count decides
    * convergence (e.g. `!col("s")`).
    */
  def cutCount[T](ds: Dataset[T], pred: org.apache.spark.sql.Column)
      : (Dataset[T], Long) = {
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val c = cut(ds)
      (c, c.filter(pred).count())
    } else {
      val marked = ds.localCheckpoint(eager = false)
      (marked, marked.filter(pred).count())
    }
  }

  /** `ds.cut` / `ds.cutLazy` syntax for [[cut]]/[[cutLazy]] at the end
    * of an operator chain.
    */
  implicit class CutSyntax[T](private val ds: Dataset[T]) extends AnyVal {
    def cut: Dataset[T] = Blocks.cut(ds)
    def cutLazy: Dataset[T] = Blocks.cutLazy(ds)
  }

  /** Release a superseded round's storage: the blocks behind an eager
    * localCheckpoint, AND — for reliable checkpoints — the round's
    * files themselves. Loop operators call this only after the NEXT
    * round is fully materialized (its own checkpoint written), so the
    * superseded files are provably dead; deleting them here bounds the
    * checkpoint dir at O(live rounds) instead of O(all rounds) — the
    * default `spark.cleaner.referenceTracking.cleanCheckpoints=false`
    * reclaims nothing during the job (r11 advice). No-op on frames
    * that are not checkpoint-backed — which includes any frame DERIVED
    * from a pin (`pinned.select(...)` is a Project over the LogicalRDD,
    * not the LogicalRDD): free the pinned handle itself, never a view
    * of it (r16: minLabel leaked one block set per round this way).
    */
  def free(df: Dataset[_]): Unit = df.queryExecution.logical match {
    case lr: LogicalRDD =>
      lr.rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        try {
          val fs = path.getFileSystem(
            df.sparkSession.sparkContext.hadoopConfiguration)
          fs.delete(path, true)
        } catch { case _: java.io.IOException => () }
      }
      lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Drop every persisted RDD in the context — cached frames AND
    * checkpoint blocks. For harnesses (bench/verify) at query boundaries,
    * where by construction nothing carries over; not for library code.
    */
  def sweep(sc: SparkContext): Unit =
    sc.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = false))

  /** Exception-safe pin accounting for an iterative operator body (r15
    * advice): every pin (and [[Scope.persist]]) the operator creates is
    * registered here; if the body throws mid-build (a failed round job,
    * a bad input surfacing in round 3), [[scoped]] frees all still-live
    * pins and unpersists all still-live persists before rethrowing — a
    * retrying ingest loop accumulates nothing from failed attempts. On
    * the SUCCESS path the scope does nothing the operator didn't
    * already do: operators free superseded rounds eagerly via [[free]]
    * and release frames the returned (lazy) result still reads via
    * [[result]], so each operator's ownership contract (caller frees or
    * harness-sweeps the returned frame) is unchanged. Used by every
    * iterative loop operator (similarity graph tier, components/graph
    * analytics, hierarchy closures). Identity-keyed: Dataset has no
    * value equality, and two pins of equal plans are still two block
    * sets.
    */
  final class Scope private[Blocks] () {
    private val live = new java.util.IdentityHashMap[Dataset[_], Unit]()
    private val persisted = new java.util.IdentityHashMap[Dataset[_], Unit]()

    /** [[Blocks.cut]], registered with the scope. */
    def cut[T](ds: Dataset[T]): Dataset[T] = adopt(Blocks.cut(ds))

    /** [[Blocks.cutCount]], registered with the scope. */
    def cutCount[T](ds: Dataset[T], pred: org.apache.spark.sql.Column)
        : (Dataset[T], Long) = {
      val (p, n) = Blocks.cutCount(ds, pred)
      adopt(p)
      (p, n)
    }

    /** Register an ALREADY-pinned frame (e.g. the terminal-cut result of
      * a nested operator call) so a later failure frees it too.
      */
    def adopt[T](ds: Dataset[T]): Dataset[T] = { live.put(ds, ()); ds }

    /** `ds.persist()`, registered with the scope: on abort the frame is
      * unpersisted (persists route through the CacheManager, so plain
      * `unpersist` is the correct release — unlike checkpoint pins).
      */
    def persist[T](ds: Dataset[T]): Dataset[T] = {
      ds.persist()
      persisted.put(ds, ())
      ds
    }

    /** Unpersist a scope-tracked persist, deregistering it. */
    def unpersist(ds: Dataset[_]): Unit = {
      persisted.remove(ds)
      ds.unpersist(blocking = false)
    }

    /** [[Blocks.free]], deregistering from the scope. */
    def free(df: Dataset[_]): Unit = { live.remove(df); Blocks.free(df) }

    /** Mark `ds` as the operator's result: ownership leaves the scope
      * (the caller frees it), so an unrelated later failure in the same
      * scope cannot free the caller's frame.
      */
    def result[T](ds: Dataset[T]): Dataset[T] = { live.remove(ds); ds }

    private[Blocks] def abort(): Unit = {
      live.keySet.forEach { d =>
        try Blocks.free(d)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      live.clear()
      persisted.keySet.forEach { d =>
        try d.unpersist(blocking = false)
        catch { case scala.util.control.NonFatal(_) => () }
      }
      persisted.clear()
    }
  }

  /** Run an operator body under a [[Scope]]: on ANY throw, every pin the
    * scope still tracks is freed before the exception propagates. The
    * happy path adds one IdentityHashMap per operator call — no Spark
    * work.
    */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    try body(s)
    catch {
      // Only clean up on non-fatal failure: abort() does distributed
      // work (checkpoint-file deletes, unpersist RPCs) that can stall
      // or compound the failure during OOM/interrupt/VM death — fatal
      // throwables must propagate immediately (r16 advice).
      case scala.util.control.NonFatal(t) => s.abort(); throw t
    }
  }
}
