package graft

import graft.operators.Hierarchy

/** Hierarchy flattening on a parent table that is not a forest: a cycle
  * fails the call naming it, on the distributed loop and on the
  * driver-side small-batch path, while a deep acyclic chain resolves.
  */
class HierarchySpec extends SparkSpec {
  import spark.implicits._

  // 1 -> 2 -> 3 -> 1, beside a well-formed 11 -> 10 edge
  private def cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L), (11L, 10L)).toDF("id", "parent")
  private def settled = Seq((10L, 10L, 0L)).toDF("id", "root", "depth")

  test("rootAndDepth: a 3-node cycle fails naming the caller") {
    val e = intercept[IllegalStateException](Hierarchy.rootAndDepth(cycle, "id", "parent"))
    assert(e.getMessage.startsWith("Hierarchy.rootAndDepth:") && e.getMessage.contains("cycle"),
      e.getMessage)
  }

  test("extend, small batch: a 3-node cycle fails naming the caller") {
    for ((name, call) <- Seq[(String, () => Any)](
        "Hierarchy.extend" -> (() => Hierarchy.extend(settled, cycle, "id", "parent")),
        "Hierarchy.extendPaths" -> (() => Hierarchy.extendPaths(
          settled.withColumn("path", $"id".cast("string")), cycle, "id", "parent")))) {
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.startsWith(s"$name:") && e.getMessage.contains("cycle"), e.getMessage)
    }
  }

  test("a 1,000-deep acyclic chain resolves on both paths") {
    val chain = (1L to 1000L).map(i => (i, i - 1)).toDF("id", "parent")
    val want = (0L to 1000L).map(i => (i, 0L, i))
    val full = Hierarchy.rootAndDepth(chain, "id", "parent")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(full == want)
    val root = Seq((0L, 0L, 0L)).toDF("id", "root", "depth")
    val extended = Hierarchy.extend(root, chain, "id", "parent")
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(extended == want)
  }
}
