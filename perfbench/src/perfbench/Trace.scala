package perfbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** Engine counters of one span, filled from listener events. Tasks and
  * jobs are attributed through the job group the span sets; plan time
  * through the wall-clock interval its planning phases ended in.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var planMs = 0.0

  def +=(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskRunMs += o.taskRunMs
    taskCpuNs += o.taskCpuNs; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    outputBytes += o.outputBytes; planMs += o.planMs
  }
}

final class Span(val id: Int, val name: String, val parent: Int,
                 val startMs: Double) {
  var endMs: Double = startMs
  val counters = new Counters
  def durMs: Double = endMs - startMs
}

/** Spans around the benchmark's calls into each layer, plus the engine
  * counters Spark's listeners report for them. Spans stay in memory until
  * [[stop]]; nothing is written while a traced operation runs.
  *
  * Registering the listeners is part of what tracing costs, so they are
  * attached by [[start]] and detached by [[stop]]: untraced operations in
  * the same process run without them.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  private val sc = spark.sparkContext
  private val groupPrefix = s"perfbench-$runId-"
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble

  /** Epoch milliseconds at sub-millisecond resolution, on the clock that
    * Spark's task launch and finish times use.
    */
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, stack.headOption.fold(-1)(_.id), nowMs)
    spans += s
    stack = s :: stack
    sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endMs = nowMs
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(groupPrefix))
      .map(_.stripPrefix(groupPrefix).toInt)

  // --- listener state, written on the bus thread, read after a drain ---
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val perSpan = mutable.HashMap.empty[Int, Counters]
  /** (launch, finish) epoch ms of every task seen while tracing. */
  private val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val planEvents = mutable.ArrayBuffer.empty[(Double, Double)]
  private val blockBytes = mutable.HashMap.empty[RDDBlockId, Long]
  private var preexisting = Set.empty[Int]
  private var baseCached = 0L
  private var curCached = 0L
  private var peakCached = 0L

  private def counters(span: Int): Counters =
    perSpan.getOrElseUpdate(span, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach { s =>
        counters(s).jobs += 1
        e.stageIds.foreach(stageSpan(_) = s)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      spanOf(e.properties).foreach(stageSpan(e.stageInfo.stageId) = _)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val info = e.taskInfo
      if (info != null) taskIntervals += ((info.launchTime, info.finishTime))
      val m = e.taskMetrics
      for (s <- stageSpan.get(e.stageId); if m != null) {
        val c = counters(s)
        c.tasks += 1
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Tracer.this.synchronized {
      e.blockUpdatedInfo.blockId match {
        case b: RDDBlockId if !preexisting.contains(b.rddId) =>
          val bytes = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
          curCached += bytes - blockBytes.getOrElse(b, 0L)
          if (bytes == 0) blockBytes.remove(b) else blockBytes(b) = bytes
          peakCached = math.max(peakCached, curCached)
        case _ => ()
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) Tracer.this.synchronized {
        planEvents += ((phases.map(_.endTimeMs).max.toDouble,
          phases.map(_.durationMs).sum.toDouble))
      }
    }
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private var gcStart = 0L
  /** JVM-wide GC time while the tracer was attached, in ms. */
  var gcTotalMs = 0L

  /** RDD blocks cached before tracing started (a workload's resident
    * input) count into the cached-bytes peak as a constant base.
    */
  def start(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    val infos = sc.getRDDStorageInfo
    synchronized {
      preexisting = infos.map(_.id).toSet
      baseCached = infos.map(i => i.memSize + i.diskSize).sum
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    gcStart = gcMs
  }

  def stop(): Unit = {
    gcTotalMs = gcMs - gcStart
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    synchronized {
      perSpan.foreach { case (id, c) => spans(id).counters += c }
      // plan time goes to the innermost span its planning ended in
      planEvents.foreach { case (endMs, ms) =>
        spans.filter(s => s.startMs <= endMs && endMs <= s.endMs)
          .maxByOption(_.startMs).foreach(_.counters.planMs += ms)
      }
    }
  }

  def cachedBytesPeak: Long = synchronized(baseCached + peakCached)

  /** Cache `df` and compute it in full, with no aggregation of its own,
    * so a span's counters hold the work of producing `df` and nothing else.
    */
  def pin(df: DataFrame): DataFrame = {
    df.cache()
    df.write.format("noop").mode("overwrite").save()
    df
  }

  def children(s: Span): Iterable[Span] = spans.filter(_.parent == s.id)

  /** Span duration minus the time its direct children cover. */
  def selfMs(s: Span): Double = s.durMs - children(s).map(_.durMs).sum

  /** Counters of a span and all its descendants. */
  def inclusive(s: Span): Counters = {
    val c = new Counters
    c += s.counters
    children(s).foreach(ch => c += inclusive(ch))
    c
  }

  /** Wall time of `s` during which no task of the run was executing. */
  def idleMs(s: Span): Double = {
    val clipped = synchronized(taskIntervals.toSeq)
      .map { case (a, b) => (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.durMs - covered
  }

  /** One JSON object per span: name, start, end, parent and run id, with
    * the self time and the engine counters attributed to the span.
    */
  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val c = s.counters
      Json.obj(Seq(
        "run" -> Json.str(runId), "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "self_ms" -> Json.num(selfMs(s)),
        "jobs" -> c.jobs.toString, "tasks" -> c.tasks.toString,
        "task_run_ms" -> c.taskRunMs.toString, "task_cpu_ms" -> Json.num(c.taskCpuNs / 1e6),
        "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
        "shuffle_read_bytes" -> c.shuffleReadBytes.toString,
        "spill_bytes" -> c.spillBytes.toString, "output_bytes" -> c.outputBytes.toString,
        "plan_ms" -> Json.num(c.planMs)))
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Just enough JSON for flat objects of numbers and strings. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
