package graft.tools

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Dump EXECUTED (AQE-final) formatted plans for named queries to files
  * (dev tool; judge evidence for plans/r19). The df is counted first so
  * AdaptiveSparkPlan shows isFinalPlan=true with the runtime join
  * strategy (a static explain would show the pre-conversion plan).
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <query...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4, "usage: PlanDump <sfDir> <outDir> <suffix> <query>...")
    val (dir, outDir, suffix) = (args(0), args(1), args(2))
    val names = args.drop(3).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    graft.Graft.tune(spark)
    // GRAFT_PLANDUMP_CONF="k=v;k=v" — session confs for the dump run
    // (e.g. spark.sql.adaptive.enabled=false dumps the static plan)
    sys.env.get("GRAFT_PLANDUMP_CONF").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    })
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    graft.Queries.all.filter(q => names(q._1)).foreach { case (name, fn, _) =>
      val df = fn(spark, dir)
      // finalize AQE on THE df's own QueryExecution: count() would build
      // a separate execution (Aggregate on top) and leave this one
      // un-executed, dumping the static pre-AQE plan
      df.collect()
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] wrote ${name}_$suffix.txt")
      graft.Blocks.sweep(spark.sparkContext)
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary && t.name.matches(".*_[0-9a-f]{32}"))
        .foreach(t => spark.catalog.dropTempView(t.name))
    }
    spark.stop()
  }
}
