package graft

import org.apache.spark.sql.SparkSession

/** Session tuning applied at every entry point (queries, Verify, Bench,
  * tests). Only runtime-settable confs — safe to call on a session we did
  * not build.
  */
object Graft {
  def tune(spark: SparkSession): SparkSession = {
    val c = spark.conf
    // Reference semantics are silent-coercion (0.0/null/0/"N/A" sentinels,
    // SURVEY.md §7.4); ANSI throw-on-malformed would abort instead.
    c.set("spark.sql.ansi.enabled", "false")
    // AQE: runtime shuffle-partition coalescing + skew-join splitting —
    // the 100 TB safety net for every shuffle this library emits.
    c.set("spark.sql.adaptive.enabled", "true")
    c.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    c.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // Join strategy (optimization guide §3.1/§9): allow the planner to
    // pick a shuffled-hash join when its size conditions hold instead of
    // always sort-merging, and let AQE convert a planned sort-merge to
    // shuffled-hash at runtime when every post-shuffle partition is
    // small. Both are size-GUARDED (plan stats / runtime partition
    // bytes), so a 100 TB build side never hash-builds: oversized
    // partitions keep the sort-merge path and AQE skew splitting.
    c.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB")
    // events.parquet carries TIMESTAMP(NANOS). On Spark <=4.0 this conf
    // makes it read as raw int64 epoch-ns; on 4.1+ the conf is inert and
    // the column reads as TIMESTAMP_NTZ (round-7 incident). Kept for
    // back-compat only — the read path no longer depends on it:
    // graft.functions.eventTimeMillis adapts to whichever physical type
    // the reader delivers.
    c.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Pin the session timezone so the NTZ->timestamp cast inside
    // eventTimeMillis is the identity wall-clock mapping and every
    // date/time extraction is deterministic across host environments.
    c.set("spark.sql.session.timeZone", "UTC")
    // SQL-surface users on a tuned session get the native dot-product
    // rewrite + function without configuring spark.sql.extensions
    // (round-2 verdict item 7). Guarded: extraOptimizations is
    // append-only state on a shared session.
    if (!spark.experimental.extraOptimizations.contains(plans.NativeDotRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ plans.NativeDotRewrite
    GraftExtensions.register(spark)
    spark
  }
}
