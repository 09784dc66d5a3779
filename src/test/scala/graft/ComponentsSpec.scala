package graft

import org.apache.spark.sql.functions._
import graft.operators.{Components, Ids}

/** Long duplicate chains through the one components solver: every node
  * carries its component minimum however many hops away it is. The
  * cases put nodes more than 50 hops from that minimum, past the
  * small-graph gate and through the incremental re-solve.
  */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("past the gate: 64-edge chains get their minimum on every node") {
    // SmallBatchKeys + 1 edges: chain c holds edges 64c .. 64c+63 (the
    // last chain one more), edge i links nodes i+c and i+c+1, so chain
    // c spans nodes 65c .. 65c+64 and its far end sits 64 hops from its
    // minimum 65c
    val nEdges = Ids.SmallBatchKeys + 1
    val last = nEdges / 64 - 1
    val chain = least(col("id") / 64, lit(last)).cast("long")
    val edges = spark.range(0, nEdges)
      .select((col("id") + chain).as("a"), (col("id") + chain + 1).as("b"))
    val nodes = spark.range(0, nEdges + last + 1).toDF("id")
    val out = Components.minLabelAdaptive(edges, "a", "b", nodes, "id")
    assert(out.count() == nEdges + last + 1)
    val wrong = out
      .filter(col("comp") =!= least(col("id") / 65, lit(last)).cast("long") * 65)
      .count()
    assert(wrong == 0, s"$wrong nodes of a long chain carry a wrong label")
  }

  test("minLabelIncremental: an 80-edge path batch relabels every node it reaches") {
    // standing graph: 100 - 101 - 102 (comp 100); the batch is the path
    // 0 - 1 - ... - 80 plus the edge 80 - 100, so node 102 sits 82 hops
    // from the merged minimum 0
    val hist = Seq((100L, 101L), (101L, 102L)).toDF("a", "b")
    val nodes = (0L until 120L).toDF("id")
    val mapping = Components.minLabelAdaptive(hist, "a", "b", nodes, "id")
    val batch = ((0L until 80L).map(i => (i, i + 1)) :+ ((80L, 100L))).toDF("a", "b")
    val got = Components.minLabelIncremental(mapping, batch, "a", "b", nodes, "id")
      .as[(Long, Long)].collect().toMap
    val want = (0L until 120L).map(i => i -> (if (i <= 80L || i >= 100L && i <= 102L) 0L else i)).toMap
    assert(got == want)
  }
}
