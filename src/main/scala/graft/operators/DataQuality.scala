package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.ScoreDigits

/** Declarative data-quality rule engine — the validation gate an ETL
  * run publishes beside its load (row counts alone say nothing about
  * referential orphans or domain violations). The reference pipeline
  * coerces bad values silently (FullETLGenerator.java:237,246,252 —
  * 0.0 / null / 0 sentinels); this is the report that makes those
  * coercions VISIBLE upstream instead of baked into the facts.
  *
  * Two rule families:
  *   - predicate rules: a boolean Column evaluated per row — all rules
  *     for a table fold into ONE scan as conditional-sum aggregates
  *     (no per-rule pass, no shuffle beyond the single agg).
  *   - referential rules: child keys that must exist in a parent —
  *     one left-anti join per rule, broadcast when the parent is a
  *     dimension.
  * Output: (rule, n_violations, n_checked, violation_rate).
  */
object DataQuality {

  /** All predicate rules in one scan: `rules` maps rule name → the
    * VIOLATION predicate (true = bad row).
    */
  def predicateReport(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    val agg = df.agg(
      count(lit(1)).as("__n"),
      rules.map { case (name, bad) =>
        sum(when(bad, 1L).otherwise(0L)).as(s"__v_$name")
      }: _*)
    agg.select(explode(array(rules.map { case (name, _) =>
        struct(lit(name).as("rule"), col(s"__v_$name").as("n_violations"),
          col("__n").as("n_checked"))
      }: _*)).as("r"))
      .select(col("r.rule"), col("r.n_violations"), col("r.n_checked"),
        round(col("r.n_violations").cast("double") /
          col("r.n_checked").cast("double"), ScoreDigits).as("violation_rate"))
  }

  /** One FK-inference candidate: does `child.childCol` reference
    * `parent.parentCol`? Names label the report row. */
  final case class FkCandidate(childName: String, child: DataFrame, childCol: String,
                               parentName: String, parent: DataFrame, parentCol: String)

  /** Foreign-key discovery over candidate column pairs — the schema
    * profiler that turns an undocumented lake into a joinable star
    * model. A candidate is an inferred FK when the child's value set is
    * FULLY CONTAINED in the parent's AND the parent key is unique; the
    * report also carries the raw containment ratio so near-misses (the
    * interesting rows: 0.98 containment = a referential-integrity leak,
    * not a coincidence) rank right below.
    *
    * Scale shape: each side compresses to its DISTINCT values (one
    * map-side-combined aggregate) BEFORE the containment join, so the
    * join shuffles value sets, not rows — at 100 TB the child fact
    * compresses by orders of magnitude and the parent dimension
    * broadcasts. Values canonicalize through a string cast so one
    * report spans heterogeneous column types; nulls are excluded on
    * both sides (SQL FK semantics ignore null children). Per candidate:
    * two aggregates and one join over compressed sets; the 1-row
    * results union into the report.
    */
  def fkCandidateReport(cands: Seq[FkCandidate]): DataFrame = {
    require(cands.nonEmpty)
    cands.map { c =>
      val ck = c.child.select(col(c.childCol).cast("string").as("k"))
        .where(col("k").isNotNull).groupBy("k").count()
      val pk = c.parent.select(col(c.parentCol).cast("string").as("k"))
        .where(col("k").isNotNull).groupBy("k").agg(count(lit(1)).as("pn"))
      val childSide = ck.join(pk.select("k", "pn"), Seq("k"), "left_outer")
        .agg(count(lit(1)).as("n_child_distinct"),
          sum(when(col("pn").isNotNull, 1L).otherwise(0L)).as("n_matched"))
      val parentSide = pk.agg(count(lit(1)).as("n_parent_distinct"),
        max(col("pn")).as("__maxpn"))
      childSide.crossJoin(parentSide)
        .select(
          lit(s"${c.childName}.${c.childCol}").as("child_key"),
          lit(s"${c.parentName}.${c.parentCol}").as("parent_key"),
          col("n_child_distinct"), col("n_parent_distinct"), col("n_matched"),
          round(col("n_matched").cast("double") /
            col("n_child_distinct").cast("double"), ScoreDigits).as("containment"),
          when(col("__maxpn") === 1L, 1).otherwise(0).as("parent_unique"),
          when(col("n_matched") === col("n_child_distinct") &&
            col("__maxpn") === 1L, 1).otherwise(0).as("is_fk"))
    }.reduce(_.unionByName(_)).orderBy("child_key", "parent_key")
  }

  /** Referential-integrity rule: child rows whose key has no match in
    * the parent. The parent side reduces to its DISTINCT key before the
    * anti join, so a dimension parent broadcasts no matter how wide.
    */
  def orphanReport(child: DataFrame, childKey: String, parent: DataFrame,
                   parentKey: String, rule: String,
                   broadcastParent: Boolean = true): DataFrame = {
    val keys = parent.select(col(parentKey).as(childKey)).distinct()
    val orph = child.select(col(childKey))
      .join(if (broadcastParent) broadcast(keys) else keys,
        Seq(childKey), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
    val totals = child.agg(count(lit(1)).as("n_checked"))
    orph.crossJoin(totals)
      .select(lit(rule).as("rule"), col("n_violations"), col("n_checked"),
        round(col("n_violations").cast("double") /
          col("n_checked").cast("double"), ScoreDigits).as("violation_rate"))
  }
}
