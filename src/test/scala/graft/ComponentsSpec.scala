package graft

import graft.operators.Components
import org.scalatest.funsuite.AnyFunSuite

/** Connected components: known graphs, determinism, convergence. */
class ComponentsSpec extends AnyFunSuite with SparkSpec {

  import spark.implicits._

  test("chain + triangle + singleton resolve to min-id components") {
    val nodes = (1L to 8L).toDF("id")
    // chain 1-2-3-4, triangle 5-6-7, singleton 8
    val edges = Seq((1L, 2L), (3L, 2L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 5L))
      .toDF("src", "dst")
    val out = Components.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L))
  }

  test("driver fast path equals the distributed iteration on a random graph") {
    import org.apache.spark.sql.functions.{col, lit}
    val rnd = new scala.util.Random(23)
    val n = 400L
    val nodes = (1L to n).toDF("id")
    // random sparse graph + a few dense pockets: exercises chains,
    // merged components, and singletons
    val edges = ((1 to 300).map(_ =>
        (rnd.nextLong(n) + 1, rnd.nextLong(n) + 1)) ++
        Seq((1L, 399L), (399L, 17L)))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val fast = Components.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(eager = true)
    val iterative = Components.connectedComponentsIterative(nodes, sym)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fast == iterative,
      s"paths diverged on ${fast.count { case (k, v) => iterative(k) != v }} nodes")
  }

  test("empty node set returns an empty result (no NPE in the sum check)") {
    val nodes = Seq.empty[Long].toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Components.connectedComponents(nodes, edges).count() == 0L)
  }

  test("no edges: every node is its own component; result is deterministic") {
    val nodes = (1L to 5L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val a = Components.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == (1L to 5L).map(i => i -> i).toMap)
    val b = Components.connectedComponents(nodes, edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("long chain converges within the iteration budget") {
    val n = 40L
    val nodes = (1L to n).toDF("id")
    val edges = (1L until n).map(i => (i, i + 1)).toDF("src", "dst")
    val out = Components.connectedComponents(nodes, edges)
      .collect().map(r => r.getLong(1)).distinct
    assert(out.sameElements(Array(1L)), s"one component expected, got ${out.toSeq}")
  }
}
