package graft

import graft.operators.RangeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[RangeJoin.pointInInterval]] against the obvious cross-join+filter
  * reference on small data — bin decomposition must be invisible to
  * semantics: same matches for any bin width, nulls and inverted
  * intervals match nothing, bounds are inclusive, negative coordinates
  * bin correctly (floorDiv, not truncate-toward-zero). */
class RangeJoinSpec extends AnyFunSuite with SparkSpec {

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.Row
  import org.apache.spark.sql.types._

  private def pts(rows: Seq[(java.lang.Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, p) => Row(id, p) }.asJava,
      StructType(Seq(StructField("pid", LongType), StructField("p", LongType))))

  private def ivs(rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, s, e) => Row(id, s, e) }.asJava,
      StructType(Seq(StructField("iid", LongType),
        StructField("s", LongType), StructField("e", LongType))))

  private def run(p: DataFrame, i: DataFrame, w: Long): Set[(Long, Long)] =
    RangeJoin.pointInInterval(p, col("p"), i, col("s"), col("e"), w)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def reference(p: DataFrame, i: DataFrame): Set[(Long, Long)] =
    p.crossJoin(i).filter(col("s") <= col("p") && col("p") <= col("e"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("matches cross-join reference for every bin width, negatives included") {
    val p = pts(Seq((1L: java.lang.Long, -15L: java.lang.Long),
      (2L, -10L), (3L, -1L), (4L, 0L), (5L, 1L), (6L, 7L), (7L, 23L), (8L, 100L)))
    val i = ivs(Seq((10L: java.lang.Long, -20L: java.lang.Long, -10L: java.lang.Long),
      (11L, -5L, 5L), (12L, 0L, 0L), (13L, 7L, 23L), (14L, 22L, 99L)))
    val want = reference(p, i)
    assert(want.nonEmpty)
    for (w <- Seq(1L, 3L, 10L, 1000L))
      assert(run(p, i, w) == want, s"binWidth=$w diverged from cross-join")
  }

  test("bounds are inclusive on both ends") {
    val p = pts(Seq((1L: java.lang.Long, 10L: java.lang.Long), (2L, 20L)))
    val i = ivs(Seq((9L: java.lang.Long, 10L: java.lang.Long, 20L: java.lang.Long)))
    assert(run(p, i, 7L) == Set((1L, 9L), (2L, 9L)))
  }

  test("null points, null bounds, and inverted intervals match nothing") {
    val p = pts(Seq((1L: java.lang.Long, 5L: java.lang.Long), (2L, null)))
    val i = ivs(Seq(
      (10L: java.lang.Long, 0L: java.lang.Long, 10L: java.lang.Long), // normal
      (11L, null, 10L),  // null start
      (12L, 0L, null),   // null end
      (13L, 9L, 3L)))    // inverted = empty
    assert(run(p, i, 4L) == Set((1L, 10L)))
  }

  test("extra equi-keys tighten the join") {
    val p = spark.range(0, 6).select(col("id").as("pid"),
      (col("id") % 2).as("grp"), lit(5L).as("p"))
    val i = spark.range(0, 2).select((col("id") + 10).as("iid"),
      (col("id") % 2).as("grp"), lit(0L).as("s"), lit(9L).as("e"))
    val got = RangeJoin.pointInInterval(p, col("p"), i, col("s"), col("e"),
        binWidth = 4L, keys = Seq("grp"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // even pids -> grp 0 -> iid 10; odd pids -> grp 1 -> iid 11
    assert(got == Set((0L, 10L), (2L, 10L), (4L, 10L), (1L, 11L), (3L, 11L), (5L, 11L)))
  }

  test("q64 shape: plan has no BroadcastNestedLoopJoin") {
    val p = pts(Seq((1L: java.lang.Long, 5L: java.lang.Long)))
    val i = ivs(Seq((10L: java.lang.Long, 0L: java.lang.Long, 10L: java.lang.Long)))
    val plan = RangeJoin.pointInInterval(p, col("p"), i, col("s"), col("e"), 4L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      "bin decomposition must produce an equi-join, not a nested-loop scan")
  }
}
