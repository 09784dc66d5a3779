package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** One timed operation's outcome: its timed wall time and whether its
  * output passed the workload's checks (which run outside the timing).
  */
final case class Op(ns: Long, ok: Boolean)

final case class Settings(workload: String, seed: Long, seconds: Double,
                          trace: Boolean, work: Path, spans: Path, launchMs: Long,
                          cores: Int)

/** A workload: seeded input, one repeatable operation, its output checks.
  * The program under test sees only the generated inputs; the ground
  * truth each generator returns stays here.
  */
trait Workload {
  /** Input rows one operation processes (for `rows_per_s`). */
  def rowsPerOp: Long

  /** Operations that make one pass over the workload's input. */
  def opsPerPass: Int

  /** The fewest operations a run times. */
  def minOps: Int = math.max(3, opsPerPass)

  /** Whether an operation is a request whose latency users wait on, so
    * the end-to-end metrics include per-operation latency and throughput.
    */
  def requests: Boolean = false

  /** Generate the inputs from the seed and build anything the timed
    * operation reads. Runs several times; each run replaces the last.
    */
  def setup(): Unit

  /** Untimed operations before timing starts. Spark compiles each plan's
    * code on first use and the JIT keeps speeding passes up for several
    * more, so this is several passes, not one.
    */
  def warmUpOps: Int

  /** One timed operation, traced when `tracer` is given. */
  def op(tracer: Option[Tracer]): Op

  /** Checks made once per run outside the timed loop, e.g. recall against
    * an exact baseline. Name -> passed.
    */
  def finalChecks(): Seq[(String, Boolean)]

  /** Workload-specific per-layer values (work counts, quality). */
  def layerExtras(): Map[String, Double]

  def close(): Unit
}

object Main {
  val PerLayerNames: Seq[String] = Seq(
    "sources.csv_scan_s", "sources.csv_write_s", "sources.csv_write_tasks",
    "sources.parquet_write_s", "sources.write_bytes",
    "functions.fact_format_s",
    "star.build_s", "star.dims_s", "star.calendar_s", "star.fact_s", "star.jobs",
    "star.fact_shuffle_bytes",
    "operators.quality_s", "operators.exact_dedup_s", "operators.minhash_s",
    "operators.components_s", "operators.components_jobs", "operators.nd_pairs",
    "operators.survivor_ratio", "operators.search_s",
    "operators.search_jobs_per_request", "operators.recall_at_10",
    "blocks.cached_bytes_peak",
    "engine.plan_ms", "engine.driver_s", "engine.busy_frac", "engine.jobs",
    "engine.tasks", "engine.task_run_s", "engine.task_cpu_s", "engine.gc_s",
    "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
    "trace.overhead_ms")

  /** Spans whose self time is reported as `<name>_s`. */
  private val TimedSpans = Seq(
    "sources.csv_scan", "sources.csv_write", "sources.parquet_write",
    "functions.fact_format", "star.build", "star.dims", "star.calendar",
    "star.fact", "operators.quality", "operators.exact_dedup",
    "operators.minhash", "operators.components", "operators.search")

  private val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val s = parse(argv)
    val spark = session(s)
    try run(spark, s) finally spark.stop()
  }

  private def parse(argv: Array[String]): Settings = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Settings(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("spans")).toAbsolutePath, kv("launch-ms").toLong,
      Runtime.getRuntime.availableProcessors())
  }

  private def session(s: Settings): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${s.cores}]")
      .appName(s"perfbench-${s.workload}")
      .config("spark.sql.shuffle.partitions", s.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", s.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.tune(spark)
    spark
  }

  private def workload(spark: SparkSession, s: Settings): Workload = s.workload match {
    case "star_etl" => new StarEtl(spark, s)
    case "llm_curate" => new LlmCurate(spark, s)
    case "vector_search" => new VectorSearch(spark, s)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def secondsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9

  /** Run operations for `seconds` and at least `minOps` of them. */
  private def loop(w: Workload, seconds: Double, minOps: Int,
                   tracer: Option[Tracer]): Seq[Op] = {
    val ops = Seq.newBuilder[Op]
    var n = 0
    val start = System.nanoTime()
    while (secondsSince(start) < seconds || n < minOps) {
      val op = try w.op(tracer) catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"operation failed: $e")
          Op(0L, ok = false)
      }
      ops += op
      n += 1
      System.err.println(f"perfbench: operation $n took ${op.ns / 1e6}%.1f ms, ok=${op.ok}")
    }
    ops.result()
  }

  private def run(spark: SparkSession, s: Settings): Unit = {
    val bootS = (System.currentTimeMillis() - s.launchMs) / 1e3
    val w = workload(spark, s)
    val setupS = Stats.median((1 to SetupReps).map { i =>
      val t = System.nanoTime(); w.setup()
      val d = secondsSince(t)
      System.err.println(f"perfbench: setup $i took $d%.3f s")
      d
    })
    val tw = System.nanoTime()
    (1 to w.warmUpOps).foreach { i =>
      val op = w.op(None)
      System.err.println(f"perfbench: warm-up $i took ${op.ns / 1e6}%.1f ms, ok=${op.ok}")
      require(op.ok, s"warm-up operation $i failed its output check")
    }
    val warmS = secondsSince(tw)
    println(f"setup: boot $bootS%.3f s, inputs+index median of $SetupReps $setupS%.3f s, warm-up $warmS%.3f s")

    val setupTotalS = bootS + setupS + warmS
    val (ops, checks, metrics) =
      if (!s.trace) {
        val ops = loop(w, s.seconds, w.minOps, None)
        val checks = w.finalChecks()
        (ops, checks, endToEnd(w, ops, setupTotalS))
      } else {
        val plain = loop(w, s.seconds / 2, 2, None)
        val tracer = new Tracer(spark, s"${s.workload}-${s.seed}")
        tracer.start()
        val traced = loop(w, s.seconds / 2, 2, Some(tracer))
        tracer.stop()
        val spanFile = s.spans.resolve(s"${s.workload}-seed${s.seed}.jsonl")
        tracer.write(spanFile)
        println(s"spans: $spanFile")
        val checks = w.finalChecks()
        (plain ++ traced, checks, perLayer(w, tracer, plain, traced))
      }
    checks.foreach { case (name, ok) => println(s"check $name: ${if (ok) "ok" else "FAILED"}") }
    w.close()
    val failed = ops.count(!_.ok) + checks.count(!_._2)
    val attempted = ops.size + checks.size
    val unitOf: String => String = if (s.trace) Units.perLayer else Units.endToEnd
    metrics.foreach { case (k, v) => println(f"$k%-36s $v%.6g ${unitOf(k)}") }
    val metricJson = metrics.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unitOf(k))))
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metricJson))))
  }

  private def opMs(ops: Seq[Op]): Seq[Double] = ops.filter(_.ok).map(_.ns / 1e6)

  /** Seconds per pass over the input, from the operations' timed sums. */
  private def passSeconds(w: Workload, ops: Seq[Op]): Seq[Double] =
    ops.grouped(w.opsPerPass).filter(_.size == w.opsPerPass)
      .map(_.map(_.ns / 1e9).sum).toSeq

  private def endToEnd(w: Workload, ops: Seq[Op], setupS: Double): Seq[(String, Double)] = {
    val jobS = Stats.median(passSeconds(w, ops))
    val batch = Seq(
      "setup_s" -> setupS,
      "job_s" -> jobS,
      "rows_per_s" -> w.rowsPerOp * w.opsPerPass / jobS,
      "peak_rss_mb" -> Stats.peakRssMb)
    if (!w.requests) batch
    else {
      val ms = opMs(ops)
      val (tail, label) = Stats.tail(ms, w.minOps)
      println(s"latency_tail_ms is $label of ${ms.size} requests")
      batch ++ Seq(
        "latency_p50_ms" -> Stats.median(ms),
        "latency_tail_ms" -> tail,
        "requests_per_s" -> ops.size / ops.map(_.ns / 1e9).sum)
    }
  }

  private def perLayer(w: Workload, t: Tracer, plain: Seq[Op],
                       traced: Seq[Op]): Seq[(String, Double)] = {
    val roots = t.spans.filter(_.parent < 0).toSeq
    val n = roots.size.toDouble
    val all = new Counters
    roots.foreach(r => all += t.inclusive(r))
    def named(name: String) = t.spans.filter(_.name == name)
    def prefixed(p: String) = t.spans.filter(_.name.startsWith(p))
    val timed = TimedSpans.map(nm => s"${nm}_s" -> named(nm).map(t.selfMs).sum / 1e3 / n)
    val wallS = roots.map(_.durMs).sum / 1e3
    val cores = Runtime.getRuntime.availableProcessors()
    val values: Map[String, Double] = timed.toMap ++ Map(
      "sources.csv_write_tasks" -> named("sources.csv_write").map(_.counters.tasks).sum / n,
      "sources.write_bytes" -> all.outputBytes / n,
      "star.jobs" -> prefixed("star.").map(_.counters.jobs).sum / n,
      "star.fact_shuffle_bytes" -> named("star.fact").map(_.counters.shuffleWriteBytes).sum / n,
      "operators.components_jobs" -> named("operators.components").map(_.counters.jobs).sum / n,
      "operators.search_jobs_per_request" -> named("operators.search").map(_.counters.jobs).sum / n,
      "blocks.cached_bytes_peak" -> t.cachedBytesPeak.toDouble,
      "engine.plan_ms" -> all.planMs / n,
      "engine.driver_s" -> roots.map(t.idleMs).sum / 1e3 / n,
      "engine.busy_frac" -> all.taskRunMs / 1e3 / (wallS * cores),
      "engine.jobs" -> all.jobs / n,
      "engine.tasks" -> all.tasks / n,
      "engine.task_run_s" -> all.taskRunMs / 1e3 / n,
      "engine.task_cpu_s" -> all.taskCpuNs / 1e9 / n,
      "engine.gc_s" -> t.gcTotalMs / 1e3 / n,
      "engine.shuffle_write_bytes" -> all.shuffleWriteBytes / n,
      "engine.shuffle_read_bytes" -> all.shuffleReadBytes / n,
      "engine.spill_bytes" -> all.spillBytes / n,
      "trace.overhead_ms" -> (Stats.median(opMs(traced)) - Stats.median(opMs(plain)))
    ) ++ w.layerExtras()
    PerLayerNames.map(k => k -> values.getOrElse(k, 0.0))
  }
}

object Units {
  val endToEnd: Map[String, String] = Map(
    "setup_s" -> "s", "job_s" -> "s", "rows_per_s" -> "rows/s",
    "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "requests_per_s" -> "req/s", "peak_rss_mb" -> "MB")

  def perLayer(name: String): String = name match {
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_bytes") || n.endsWith("_peak") => "bytes"
    case n if n.endsWith("_frac") || n.endsWith("_ratio") || n.endsWith("recall_at_10") => "fraction"
    case _ => "count"
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest of p90, p75 and p50 that has at least ten samples beyond
    * it in a run of `minOps` operations, the least a run makes; the maximum
    * when no percentile has. Fixing the percentile by `minOps` rather than
    * by the count a run happened to reach keeps runs comparable.
    */
  def tail(xs: Seq[Double], minOps: Int): (Double, String) = {
    val s = xs.sorted
    Seq(90, 75, 50).find(p => minOps * (100 - p) / 100 >= 10) match {
      case Some(p) =>
        val i = math.min(s.size - 1, math.ceil(s.size * p / 100.0).toInt - 1)
        (s(i), s"p$p")
      case None => (if (s.isEmpty) Double.NaN else s.last, "the maximum")
    }
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Directory helpers shared by the batch workloads. */
object Dirs {
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    finally walk.close()
  }
}
